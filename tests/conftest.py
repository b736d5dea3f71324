from __future__ import annotations

import pandas as pd
import pytest

from log_aggregator_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF01_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


def make_chunks(rows):
    """rows: (doc_id, session, seq, chunk_tokens, source)."""
    return pd.DataFrame(
        rows, columns=["doc_id", "session", "seq", "chunk_tokens", "source"]
    )


def chunks_df(spark, rows):
    pdf = make_chunks(rows)
    return spark.createDataFrame(
        pdf,
        schema="doc_id string, session long, seq long, chunk_tokens array<int>, source string",
    )


class FakeGroupState:
    """Minimal GroupState double for kernel-level tests."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def stream_kernel_reassemble(chunks, checkpoint=None):
    """Batch form of the streaming gate: the per-(doc_id, session) pandas
    kernel that ``stream_reassemble`` hands to ``applyInPandasWithState``,
    run once per key over all of its chunks, each key starting from its
    checkpointed ``last_seq`` (absent ⇒ fresh state). Same inputs and
    output columns as ``reassemble_oracle``, so both gate implementations
    — this one and the ``reassemble_sql`` window plan — are checked
    against the oracle on the same cases."""
    from log_aggregator_spark.streaming.stream_pipeline import _make_gate

    gate = _make_gate(None)
    last = {}
    if checkpoint is not None:
        for r in checkpoint.itertuples(index=False):
            last[(r.doc_id, r.session)] = int(r.last_seq)
    out = []
    for key, g in chunks.groupby(["doc_id", "session"], sort=True):
        st = FakeGroupState((last[key], [], [], None) if key in last else None)
        out.extend(gate(key, iter([g]), st))
    cols = ["doc_id", "session", "tokens", "n_tok", "source", "last_seq_out"]
    if not out:
        return pd.DataFrame(columns=cols)
    return pd.concat(out, ignore_index=True)[cols]
