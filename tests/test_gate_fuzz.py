"""Property-based fuzz of the pure gate decision (`gate_select`) against a
naive line-by-line transcription of the reference decoder loop
(DataPumpDecoderSort.java:157-178) — hypothesis explores seq multisets and
resume states the hand-written cases can't enumerate: duplicate bursts,
seq-0 quirks under resume, multi-gap suffixes, stale redeliveries."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from log_aggregator_spark.operators.reassemble import gate_select


def ref_loop(seqs: list[int], last: int) -> tuple[list[int], int, set[int]]:
    """The reference gate, naively: distinct seqs ascending; emit iff
    seq == last+1 or last == 0 (a seq-0 emit leaves last at 0)."""
    cur = last
    emitted: list[int] = []
    for s in sorted(set(seqs)):
        if s <= last and not (s == 0 and last == 0):
            continue  # consumed by a previous run / stale redelivery
        if s == cur + 1 or cur == 0:
            emitted.append(s)
            if s != 0:
                cur = s
    held = {s for s in set(seqs) if s > last and s not in emitted}
    return emitted, cur, held


@settings(max_examples=500, deadline=None)
@given(
    seqs=st.lists(st.integers(min_value=0, max_value=9), min_size=0, max_size=24),
    last=st.integers(min_value=0, max_value=7),
)
def test_gate_select_matches_reference_loop(seqs, last):
    arr = np.asarray(seqs, dtype=np.int64)
    idx, new_last, held_idx = gate_select(arr, last)
    got_emitted = [int(arr[i]) for i in idx]
    got_held = {int(arr[i]) for i in held_idx}

    want_emitted, want_last, want_held = ref_loop(seqs, last)
    assert got_emitted == want_emitted
    assert new_last == want_last
    assert got_held == want_held
    # emitted indices reference distinct positions (no double-emission)
    assert len(set(map(int, idx))) == len(idx)


def test_random_corpus_all_strategies_match_oracle(spark):
    """One seeded random corpus (200 streams × random seq multisets ×
    random checkpoints) through both gate implementations — the batch plan
    (``reassemble_sql``) and the streaming path's per-key pandas kernel —
    vs the pure-pandas oracle: the Spark-plan fuzz counterpart of the
    kernel fuzz above."""
    import pandas as pd

    from conftest import stream_kernel_reassemble

    from log_aggregator_spark.operators.reassemble import reassemble_sql
    from log_aggregator_spark.oracle_pandas import reassemble_oracle

    rng = np.random.default_rng(7)
    rows, ckpt_rows = [], []
    for i in range(200):
        doc, sess = f"d{i:03d}", 10
        n = int(rng.integers(1, 10))
        seqs = rng.integers(0, 8, size=n)
        for s in seqs:
            # duplicate seqs get DIFFERING payloads (random tail element):
            # both gates and the oracle must settle on the SAME
            # lexicographically-least survivor, not an arrival artifact
            rows.append(
                (doc, sess, int(s),
                 [int(s) * 100 + i, int(rng.integers(0, 100))], "s0")
            )
        if rng.random() < 0.3:
            ckpt_rows.append((doc, sess, int(rng.integers(1, 5))))

    pdf = pd.DataFrame(
        rows, columns=["doc_id", "session", "seq", "chunk_tokens", "source"]
    )
    cdf = pd.DataFrame(ckpt_rows, columns=["doc_id", "session", "last_seq"])
    sdf = spark.createDataFrame(
        pdf,
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )
    sckpt = (
        spark.createDataFrame(
            cdf, schema="doc_id string, session long, last_seq long"
        )
        if len(cdf)
        else None
    )

    def norm(p):
        p = p.copy()
        p["tokens"] = p["tokens"].map(lambda a: [int(x) for x in a])
        return (
            p.sort_values(["doc_id", "session"]).reset_index(drop=True)
            [["doc_id", "session", "tokens", "n_tok", "last_seq_out"]]
            .astype({"session": "int64", "n_tok": "int64", "last_seq_out": "int64"})
        )

    want = norm(reassemble_oracle(pdf, cdf if len(cdf) else None))
    got = norm(reassemble_sql(sdf, sckpt).toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    got = norm(stream_kernel_reassemble(pdf, cdf if len(cdf) else None))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
