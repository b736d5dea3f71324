"""Closed-form expected outputs for the benchmark corpora.

Everything here is derived from the generation rules of
``chunker.synth_chunks`` (and the late/malformed split in ``workloads``)
with numpy and plain Python. Nothing is read from the generated parquet and
no pipeline operator is imported, so a wrong operator cannot make its own
check pass. Spark's ``xxhash64`` (XXH64 over each column in turn, seed 42)
is re-implemented below so per-document token counts and sources come out
bit-identical to the generator's.

The gate is the reference decoder's loop: among distinct live seqs
(``seq > last``), the run must start at ``last + 1`` (or anywhere when
``last == 0``) and stops at the first missing seq; everything live past the
gap is held for a later pass.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from log_aggregator_spark import spec

_M31 = 2_147_483_647
_VOCAB = 50_257

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = (h ^ (h >> np.uint64(33))) * _P2
    h = (h ^ (h >> np.uint64(29))) * _P3
    return h ^ (h >> np.uint64(32))


def xxhash64(ids: np.ndarray, *ints: int) -> np.ndarray:
    """Spark's ``xxhash64(long_col, int_lit, ...)``: hash the long column
    with seed 42, then each 32-bit literal with the running hash as seed."""
    with np.errstate(over="ignore"):
        h = np.full(len(ids), 42, dtype=np.uint64) + _P5 + np.uint64(8)
        k = _rotl(ids.astype(np.int64).astype(np.uint64) * _P2, 31) * _P1
        h = _rotl(h ^ k, 27) * _P1 + _P4
        h = _fmix(h)
        for v in ints:
            if not -(2**31) <= v < 2**31:
                raise ValueError(f"literal {v} is not a 32-bit int")
            h = h + _P5 + np.uint64(4)
            h = h ^ (np.uint64(v & 0xFFFFFFFF) * _P1)
            h = _rotl(h, 23) * _P2 + _P3
            h = _fmix(h)
    return h.view(np.int64)


@dataclass(frozen=True)
class Shape:
    """Arguments of ``chunker.synth_chunks`` (defaults match it)."""

    n_docs: int
    min_tok: int = 64
    max_tok: int = 1024
    chunk: int = 64
    n_sources: int = 32
    hot_permille: int = 500
    dup_mod: int = 16
    gap_mod: int = 997


@dataclass
class Docs:
    dnum: np.ndarray
    n_tok: np.ndarray
    src: np.ndarray
    n_chunks: np.ndarray
    half: np.ndarray       # chunks in the first session
    tok_prefix: np.ndarray  # prefix sums of all docs' token values, concatenated
    offset: np.ndarray     # doc d's first token is value number offset[d]


def synth_docs(shape: Shape, seed: int) -> Docs:
    dnum = np.arange(shape.n_docs, dtype=np.int64)
    span = shape.max_tok - shape.min_tok + 1
    n_tok = np.mod(xxhash64(dnum, seed, 1), span) + shape.min_tok
    roll = np.mod(xxhash64(dnum, seed, 2), 1000)
    src = np.where(
        roll < shape.hot_permille,
        0,
        np.mod(xxhash64(dnum, seed, 3), shape.n_sources - 1) + 1,
    )
    n_chunks = -(-n_tok // shape.chunk)
    multi = (dnum % spec.MOD_MULTISESSION == 0) & (n_chunks >= 2)
    half = np.where(multi, -(-n_chunks // 2), n_chunks)

    # token at 1-based position p of doc d:
    #   ((mix + p) mod M31) * 48271 mod VOCAB, mix = (d * 1000003 + seed) mod M31
    mix = np.mod(dnum * 1_000_003 + seed, _M31)
    offset = np.cumsum(n_tok) - n_tok
    doc_of = np.repeat(np.arange(shape.n_docs), n_tok)
    pos = np.arange(len(doc_of), dtype=np.int64) - offset[doc_of] + 1
    vals = np.mod(np.mod(mix[doc_of] + pos, _M31) * 48_271, _VOCAB)
    tok_prefix = np.concatenate([[0], np.cumsum(vals)])
    return Docs(dnum, n_tok, src, n_chunks, half, tok_prefix, offset)


def gate(avail: list[int], last: int) -> tuple[list[int], list[int]]:
    """(accepted, held) seqs for one stream; ``avail`` ascending, distinct."""
    live = [s for s in avail if s > last]
    if not live or (last > 0 and live[0] != last + 1):
        return [], live
    n = 1
    while n < len(live) and live[n] == live[n - 1] + 1:
        n += 1
    return live[:n], live[n:]


def is_late(dnum: int, session_idx: int, seq: int) -> bool:
    """The resume workload's held-back ~10%: mirrors ``workloads.late_col``."""
    return (dnum + seq + 3 * session_idx) % 10 == 0


class SinkTotals:
    """Per-sink n_rows, sum_n_tok, n_docs and sum(tokens) — the columns of
    ``sink_counts`` plus a token-content checksum."""

    def __init__(self) -> None:
        self._rows: dict[str, list[int]] = {}
        self._docs: dict[str, set[int]] = {}

    def add_stream(self, docs: Docs, d: int, sink: str, k_lo: int, k_hi: int, chunk: int) -> None:
        """One emitted stream holding global chunks ``k_lo..k_hi`` of doc d."""
        n = int(docs.n_tok[d])
        lo, hi = (k_lo - 1) * chunk, min(k_hi * chunk, n)
        off = int(docs.offset[d])
        acc = self._rows.setdefault(sink, [0, 0, 0])
        acc[0] += 1
        acc[1] += hi - lo
        acc[2] += int(docs.tok_prefix[off + hi] - docs.tok_prefix[off + lo])
        self._docs.setdefault(sink, set()).add(d)

    def as_dict(self) -> dict[str, dict[str, int]]:
        return {
            s: {"n_rows": r[0], "sum_n_tok": r[1], "n_docs": len(self._docs[s]), "tok_sum": r[2]}
            for s, r in sorted(self._rows.items())
        }


def _streams(shape: Shape, docs: Docs):
    """(doc, session_idx, first global chunk, n seqs, seqs dropped for good)."""
    for d in range(shape.n_docs):
        dnum, half, n_chunks = int(docs.dnum[d]), int(docs.half[d]), int(docs.n_chunks[d])
        yield d, 0, 1, half, {3} if dnum % shape.gap_mod == 0 else set()
        if n_chunks > half:
            yield d, 1, half + 1, n_chunks - half, set()


def _sink(docs: Docs, d: int) -> str:
    return f"sink{int(docs.src[d]) % spec.N_SINKS}"


def expected_batch(shape: Shape, seed: int) -> dict:
    """Per-sink totals of one batch pass with no checkpoint."""
    docs = synth_docs(shape, seed)
    totals = SinkTotals()
    held = 0
    for d, _sidx, k0, m, dropped in _streams(shape, docs):
        acc, rest = gate([s for s in range(1, m + 1) if s not in dropped], 0)
        held += len(rest)
        if acc:
            totals.add_stream(docs, d, _sink(docs, d), k0 + acc[0] - 1, k0 + acc[-1] - 1, shape.chunk)
    return {"sinks": totals.as_dict(), "held": held}


def expected_resume(shape: Shape, seed: int, n_bad_late: int) -> dict:
    """Second ``run_job`` pass after a first pass over the on-time chunks:
    per-sink totals of the rows it routes, chunks still held after it, and
    malformed envelopes it rejects."""
    docs = synth_docs(shape, seed)
    totals = SinkTotals()
    held = 0
    for d, sidx, k0, m, dropped in _streams(shape, docs):
        dnum = int(docs.dnum[d])
        seqs = [s for s in range(1, m + 1) if s not in dropped]
        late = {s for s in seqs if is_late(dnum, sidx, s)}
        acc1, held1 = gate([s for s in seqs if s not in late], 0)
        last = acc1[-1] if acc1 else 0
        acc2, held2 = gate(sorted(set(held1) | late), last)
        held += len(held2)
        if acc2:
            totals.add_stream(docs, d, _sink(docs, d), k0 + acc2[0] - 1, k0 + acc2[-1] - 1, shape.chunk)
    return {"sinks": totals.as_dict(), "held": held, "rejects": n_bad_late}
