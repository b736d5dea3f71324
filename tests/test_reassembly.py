"""Decoder/ordering oracles — the tests the reference lacks (SURVEY.md §5.1:
datadecoder has zero unit tests; §5.2 item 3 defines these cases from the
code semantics of DataPumpDecoderSort.java:142-181 + SequenceTracker.java).

Every case runs through both gate implementations — the batch plan
(``reassemble_sql``, the pure-SQL window plan) and the streaming path's
grouped-pandas kernel (``gate_select`` per key) — and must match the
pure-pandas oracle exactly.
"""

from __future__ import annotations

import pandas as pd
import pytest

from log_aggregator_spark.operators.reassemble import held_back, reassemble_sql
from log_aggregator_spark.oracle_pandas import reassemble_oracle

from conftest import chunks_df, make_chunks, stream_kernel_reassemble


def _chunk(doc, sess, seq, toks, source="src0"):
    return (doc, sess, seq, toks, source)


CASES = {
    # name: (chunk rows, checkpoint rows or None)
    "in_order": ([_chunk("a", 10, 1, [1, 2]), _chunk("a", 10, 2, [3]), _chunk("a", 10, 3, [4, 5])], None),
    "shuffled": ([_chunk("a", 10, 3, [4, 5]), _chunk("a", 10, 1, [1, 2]), _chunk("a", 10, 2, [3])], None),
    "duplicate_seq": (
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 3, [3])],
        None,
    ),
    "duplicate_seq_diff_payload": (
        # survivor among equal seqs = lexicographically-least payload
        # (deterministic; NOT arrival order, which a shuffle
        # destroys). [2,9] loses to [2,10]? no: [2,9] < [2,10] elementwise
        # lexicographic on values → [2,9] wins; [0,7] < [2,9] → [0,7] wins.
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2, 9]), _chunk("a", 10, 2, [0, 7]), _chunk("a", 10, 3, [3])],
        None,
    ),
    "gap_holds_suffix": (
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 4, [4]), _chunk("a", 10, 5, [5])],
        None,
    ),
    "midstream_init": ([_chunk("a", 10, 7, [7]), _chunk("a", 10, 8, [8])], None),
    "midstream_then_gap": ([_chunk("a", 10, 7, [7]), _chunk("a", 10, 9, [9])], None),
    "multisession": (
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 20, 1, [10]), _chunk("a", 20, 2, [11])],
        None,
    ),
    "multidoc": (
        [_chunk("a", 10, 1, [1], "s1"), _chunk("b", 10, 1, [2], "s2"), _chunk("b", 10, 3, [9], "s2")],
        None,
    ),
    "seq0_init_quirk": (
        # reference emits seq0 but keeps last==0 → next chunk init-accepted
        [_chunk("a", 10, 0, [0]), _chunk("a", 10, 5, [5]), _chunk("a", 10, 6, [6]), _chunk("a", 10, 9, [9])],
        None,
    ),
    "seq0_then_contiguous": (
        [_chunk("a", 10, 0, [0]), _chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2])],
        None,
    ),
    "resume_ok": (
        [_chunk("a", 10, 3, [3]), _chunk("a", 10, 4, [4])],
        [("a", 10, 2)],
    ),
    "resume_blocked": (
        # checkpoint expects seq 3; only 4.. present → emit nothing
        [_chunk("a", 10, 4, [4]), _chunk("a", 10, 5, [5])],
        [("a", 10, 2)],
    ),
    "resume_skips_consumed": (
        # seqs ≤ last are stale re-deliveries, must be ignored
        [_chunk("a", 10, 1, [1]), _chunk("a", 10, 2, [2]), _chunk("a", 10, 3, [3])],
        [("a", 10, 2)],
    ),
    "resume_seq0_consumed": (
        # last>0 ⇒ a seq0 chunk is stale, not init
        [_chunk("a", 10, 0, [0]), _chunk("a", 10, 2, [2])],
        [("a", 10, 1)],
    ),
    "resume_new_session_restart": (
        # truncation/rotation semantics (reference LogTail.java:60-82
        # MOVED/TRUNCATED → new session, seq restarts at 1): the OLD
        # session resumes against its checkpoint while the NEW session's
        # seq-1 restart is init-accepted (fresh key ⇒ last==0) — the
        # session component of the stream key is what dissolves the
        # reference's file-state detector into plain keyed state.
        [_chunk("a", 10, 3, [3]), _chunk("a", 20, 1, [10]), _chunk("a", 20, 2, [11])],
        [("a", 10, 2)],
    ),
}


def _ckpt_df(spark, rows):
    if rows is None:
        return None
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "session", "last_seq"]),
        schema="doc_id string, session long, last_seq long",
    )


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.copy()
    pdf["tokens"] = pdf["tokens"].apply(lambda a: [int(x) for x in a])
    return (
        pdf.sort_values(["doc_id", "session"]).reset_index(drop=True)
        [["doc_id", "session", "tokens", "n_tok", "source", "last_seq_out"]]
        .astype({"session": "int64", "n_tok": "int64", "last_seq_out": "int64"})
    )


@pytest.mark.parametrize("strategy", ["pandas", "sql"])
@pytest.mark.parametrize("name", sorted(CASES))
def test_gate_matches_oracle(spark, name, strategy):
    """strategy: ``sql`` is the batch window plan, ``pandas`` the streaming
    path's per-key kernel."""
    rows, ckpt_rows = CASES[name]
    ckpt_pdf = (
        pd.DataFrame(ckpt_rows, columns=["doc_id", "session", "last_seq"])
        if ckpt_rows
        else None
    )
    if strategy == "sql":
        df = chunks_df(spark, rows)
        got = reassemble_sql(df, _ckpt_df(spark, ckpt_rows)).toPandas()
    else:
        got = stream_kernel_reassemble(make_chunks(rows), ckpt_pdf)
    want = _normalize(reassemble_oracle(make_chunks(rows), ckpt_pdf))
    pd.testing.assert_frame_equal(_normalize(got), want)


def test_strategies_agree_on_everything(spark):
    """Union of all cases in one df (no checkpoint) — every stream shares
    the batch plan's partitions and sort with the others; the plan, the
    streaming kernel and the oracle must all agree."""
    all_rows = []
    for i, (rows, _) in enumerate(CASES.values()):
        all_rows += [(f"{d}#{i}", s, q, t, src) for (d, s, q, t, src) in rows]
    df = chunks_df(spark, all_rows)
    a = _normalize(reassemble_sql(df).toPandas())
    b = _normalize(stream_kernel_reassemble(make_chunks(all_rows)))
    want = _normalize(reassemble_oracle(make_chunks(all_rows), None))
    pd.testing.assert_frame_equal(a, want)
    pd.testing.assert_frame_equal(b, want)


def test_gate_plan_is_one_window_and_codegen_aggregate(spark):
    """The executed plan of ``reassemble_sql`` has one ``Window`` operator,
    which buffers each chunk row and its token array once, and no lambda
    function, which would run the aggregate's result in interpreted mode."""
    import re

    all_rows = []
    for i, (rows, _) in enumerate(CASES.values()):
        all_rows += [(f"{d}#{i}", s, q, t, src) for (d, s, q, t, src) in rows]
    out = reassemble_sql(chunks_df(spark, all_rows), _ckpt_df(spark, [("a#0", 10, 1)]))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    assert "lambdafunction" not in plan.lower(), plan


def test_held_back(spark):
    rows, _ = CASES["gap_holds_suffix"]
    df = chunks_df(spark, rows)
    held = held_back(df).toPandas().sort_values("seq")
    assert list(held["seq"]) == [4, 5]


def test_held_back_resume_blocked(spark):
    rows, ckpt_rows = CASES["resume_blocked"]
    held = (
        held_back(chunks_df(spark, rows), _ckpt_df(spark, ckpt_rows))
        .toPandas()
        .sort_values("seq")
    )
    assert list(held["seq"]) == [4, 5]
