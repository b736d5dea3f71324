"""Reassembly — the heart of the engine.

Reproduces the reference decoder's semantics (SURVEY.md §2 S10–S13):

* total order per stream: (doc_id, session, seq)
  (``/root/reference/datadecoder/.../PBLogFileComparator.java:14-26``)
* duplicate chunks appear once
  (``/root/reference/datadecoder/.../PBLogFileCollector.java:67-70``)
* monotone-sequence gate: append iff ``seq == last+1``; a gap holds back the
  entire suffix (``/root/reference/datadecoder/.../DataPumpDecoderSort.java:142-181``)
* init rule: if nothing was ever consumed (``last == 0``) accept ANY first
  seq — "start mid-stream" (``DataPumpDecoderSort.java:167-174``)
* resume: per-(doc_id, session) ``last_seq`` checkpoint
  (``/root/reference/datadecoder/.../SequenceTracker.java:105-113`` — absent ⇒ 0)

One batch plan, ``reassemble_sql``: one built-in ``Window`` operator (the
gap cut is ``seq`` minus its dense rank) and one aggregate, whole-stage
codegen, no lambda functions, no Python. ``plans.pipeline.after_gate``
runs its halves: ``_gate_flags``, lazy or materialized, then the
``*_from_flags`` derivations. The streaming path runs the same decision per
key in numpy (``gate_select``); ``oracle_pandas.reassemble_oracle`` is the
test reference both are checked against.

At 100 TB: the plan shuffles once on (doc_id, session) — the minimum
possible, since reassembly is a per-stream total order — and per-key
single-writer discipline falls out of Spark's partitioning (the reference
needed a dedicated single-threaded executor for this,
``datadecoder/.../AppConfig.java:16-27``). AQE handles skew in doc sizes;
the window sort spills via Tungsten. A grouped pandas-UDF kernel and a
higher-order-function aggregate compute the same gate, but measured slower
on a 500k-doc corpus at ``local[32]``: 112 s and 14.3 s against this
plan's 4.6 s.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _with_last_seq(parsed: DataFrame, checkpoint: DataFrame | None) -> DataFrame:
    """Attach resume state. The checkpoint has one row per stream ever
    seen, so no hint forces its side of the join: the planner broadcasts it
    while its files are below ``spark.sql.autoBroadcastJoinThreshold``
    (no shuffle of the new chunks), and shuffles both sides once it is
    larger, where a forced broadcast would fail the pass at Spark's
    broadcast row or byte cap. Below those caps, the cost of shuffling and
    sorting a checkpoint past the threshold on every pass is unmeasured
    (ROADMAP direction 2)."""
    if checkpoint is None:
        return parsed.withColumn("last_seq", F.lit(0).cast("long"))
    return parsed.join(
        checkpoint.select("doc_id", "session", "last_seq"), ["doc_id", "session"], "left"
    ).withColumn("last_seq", F.coalesce(F.col("last_seq"), F.lit(0)).cast("long"))


def payload_ranks(seqs: np.ndarray, arrays) -> np.ndarray | None:
    """Tie-break ranks for duplicate seqs: among rows sharing a seq, the
    lexicographically-least token payload must win (see ``gate_select``).
    Returns None in the common no-duplicates case so the hot path pays one
    vectorized ``duplicated`` check and nothing else; per-row tuple
    construction happens only for the (corruption-rare) duplicated rows."""
    dup = pd.Series(seqs).duplicated(keep=False).to_numpy()
    if not dup.any():
        return None
    idxs = np.nonzero(dup)[0]
    keys = np.empty(len(idxs), dtype=object)
    for j, i in enumerate(idxs):
        keys[j] = tuple(arrays[int(i)])
    rank = np.zeros(len(seqs), dtype=np.int64)
    rank[idxs[np.argsort(keys, kind="stable")]] = np.arange(len(idxs))
    return rank


def gate_select(
    seqs: np.ndarray, last: int, payload_rank: np.ndarray | None = None
) -> tuple[np.ndarray, int, np.ndarray]:
    """The pure gate decision of the streaming state kernel, in numpy (the
    batch plan computes the same decision with window functions, see
    ``_gate_flags``): given raw (possibly shuffled, duplicated) seqs and the
    stream's ``last`` state, return (accepted original indices in emit
    order, new last, held original indices — dedupe'd live chunks past the
    first gap).

    Duplicate-seq survivor rule: the reference collector keeps the FIRST
    arrival (PBLogFileCollector.java:67-70) — but arrival order does not
    survive a distributed shuffle, so "first" is not reproducible here.
    This engine's rule, uniform across the batch plan, the streaming gate
    and the test oracle: among rows with equal seq, the
    lexicographically-least token payload wins (deterministic,
    retry/speculation-stable, and identical to first-wins whenever
    duplicate payloads are identical — the only case the reference's own
    corpus produces). ``payload_rank``
    carries that ordering; None means the caller verified there are no
    duplicate seqs (or accepts arbitrary survivor choice).

    Exact transcription of the reference's gate loop
    (DataPumpDecoderSort.java:142-181): for each distinct seq ascending,
    ``if seq == last+1 or last == 0: emit; last = seq``. Consequences the
    vectorization must preserve:
      * a seq==0 chunk is emitted but leaves last==0, so the NEXT chunk is
        also init-accepted regardless of its seq;
      * with last>0 (resume), the run must start exactly at last+1;
      * after the first accepted seq > 0, strict contiguity; first gap holds
        back the whole suffix.
    """
    if payload_rank is not None:
        order = np.lexsort((payload_rank, seqs))
    else:
        order = np.argsort(seqs, kind="stable")
    sseqs = seqs[order]
    keep_first = np.ones(len(sseqs), dtype=bool)
    keep_first[1:] = sseqs[1:] != sseqs[:-1]  # dedupe (duplicate seq → first wins)
    idx = order[keep_first]
    sseqs = sseqs[keep_first]

    take_zero = None
    if last == 0 and len(sseqs) and sseqs[0] == 0:
        take_zero = idx[0]  # emitted, but last stays 0 → init re-fires below
        idx, sseqs = idx[1:], sseqs[1:]

    live = sseqs > last  # seq ≤ last_seq ⇒ consumed by a previous run
    idx, sseqs = idx[live], sseqs[live]
    empty = np.array([], dtype=idx.dtype)
    if last > 0 and (len(sseqs) == 0 or sseqs[0] != last + 1):
        # resume gap: the expected next chunk is missing → hold everything
        return empty, last, idx
    # init rule: last == 0 accepts any first seq; then contiguity
    breaks = np.nonzero(np.diff(sseqs) != 1)[0]
    cut = (breaks[0] + 1) if len(breaks) else len(sseqs)
    held = idx[cut:]
    idx, sseqs = idx[:cut], sseqs[:cut]
    new_last = int(sseqs[-1]) if len(sseqs) else last
    if take_zero is not None:
        idx = np.concatenate([[take_zero], idx]).astype(idx.dtype)
    return idx, new_last, held


def _gate_flags(parsed: DataFrame, checkpoint: DataFrame | None) -> DataFrame:
    """Deduped live chunks with an ``accepted`` flag — pure built-ins,
    ONE shuffle, ONE ``Window`` operator.

    Everything (dedupe, gap cut, init rule, zero rule) is computed from
    window functions over a single ``partitionBy(doc_id, session)
    .orderBy(seq)`` sort — one exchange, one sort, then the downstream
    groupBy(doc_id, session) reuses the partitioning (no second exchange).
    At 10^12 rows this is the irreducible minimum: reassembly IS a per-stream
    total order. Every window column is computed from the input rows in one
    projection, so Catalyst evaluates all of them in one ``WindowExec``:
    the rows and their token arrays are buffered once, not once per
    window column that reads another.

    Mechanics: among live chunks (``seq > last_seq``, plus the ``seq==0 &&
    last_seq==0`` init special case), ``_dr`` — ``dense_rank()``, the rank
    of the row's seq among distinct seqs — makes ``seq - _dr`` the
    constant ``anchor - anchor_rank`` along the contiguous run starting at
    the anchor (first live positive seq); the first gap breaks the
    constant. Duplicate rows are dropped by keeping only the first row per
    seq (``row_number() == rank()`` — the reference detects exactly this on
    insert, PBLogFileCollector.java:67-70). The survivor row's payload and
    source are the peer-group minimum (``min(struct(chunk_tokens, source))
    RANGE BETWEEN CURRENT ROW AND CURRENT ROW`` — the frame is exactly the
    equal-seq rows), so the emitted payload is the lexicographically-least
    among equal seqs, with its own source, in whatever order the rows
    arrived — the engine's deterministic survivor rule (see
    ``gate_select``) — WITHOUT putting the token array into the sort key:
    a single long sort key keeps SortExec on the radix path, keeps equal
    seqs peers for the ranks, and runs the array comparator only inside
    the (corruption-rare) multi-row peer frames. A seq==0 chunk with
    last_seq==0 is emitted but does NOT anchor the run: the reference
    writes last=0 after it, so the init rule re-fires for the next chunk
    (DataPumpDecoderSort.java:166-174).
    """
    w = Window.partitionBy("doc_id", "session").orderBy("seq")
    # Running frame (unbounded preceding → current row), the ranks' own
    # frame: with rows sorted by seq, the stream anchor (first positive
    # live seq) and the zero-chunk flag (zero sorts first) are running
    # aggregates, evaluated as a stream (no whole-partition buffering).
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # peer frame: all rows sharing the current row's seq (RANGE with both
    # bounds at CURRENT ROW = the SQL-standard peer group) — picks the
    # deterministic survivor payload and held age among duplicate seqs.
    w_peer = w.rangeBetween(Window.currentRow, Window.currentRow)
    live = _with_last_seq(parsed, checkpoint).where(
        (F.col("seq") > F.col("last_seq"))
        | ((F.col("seq") == 0) & (F.col("last_seq") == 0))
    )
    zero = (F.col("seq") == 0) & (F.col("last_seq") == 0)
    windows = {
        # the first row of its seq, from ranks, not ``lag``: an offset
        # function's key in Spark's frame map holds expression ids, so
        # beside it the generated window code changed from one pass to the
        # next on the same input, and a repeated pass recompiled it
        "_first": F.row_number().over(w) == F.rank().over(w),
        "_dr": F.dense_rank().over(w),
        "_anchor": F.first(F.when(F.col("seq") > 0, F.col("seq")), ignorenulls=True).over(w_run),
        "_anchor_rank": F.lit(1) + F.max(F.when(zero, 1).otherwise(0)).over(w_run),
        # deterministic survivor: the least payload among equal seqs, with
        # its own source (peer frames are size 1 except for duplicate seqs,
        # so the array comparator is off the hot path)
        "_survivor": F.min(F.struct("chunk_tokens", "source")).over(w_peer),
    }
    if "first_held_run" in live.columns:
        # a held chunk that arrives again (as a new duplicate) keeps the
        # pass that first held it: the least among equal seqs, nulls (never
        # held) ignored
        windows["first_held_run"] = F.min("first_held_run").over(w_peer)
    anchor, anchor_rank = F.col("_anchor"), F.col("_anchor_rank")
    return (
        live.withColumns(windows)
        .withColumns({c: F.col(f"_survivor.{c}") for c in ("chunk_tokens", "source")})
        .withColumn(
            "accepted",
            F.col("_first")
            & (
                zero
                | (
                    (F.col("seq") - F.col("_dr") == anchor - anchor_rank)
                    & ((F.col("last_seq") == 0) | (anchor == F.col("last_seq") + 1))
                )
            ),
        )
        .drop("_dr", "_anchor", "_anchor_rank", "_survivor")
    )


def reassemble_sql(parsed: DataFrame, checkpoint: DataFrame | None = None) -> DataFrame:
    """parsed(doc_id, session, seq, chunk_tokens, source) →
    (doc_id, session, tokens, n_tok, source, last_seq_out), one row per
    stream that emitted anything this run. Pure built-ins (no Python)."""
    return reassemble_from_flags(_gate_flags(parsed, checkpoint))


def reassemble_from_flags(flagged: DataFrame) -> DataFrame:
    """The aggregate half of ``reassemble_sql``: the segment each stream
    emits, from a ``_gate_flags`` output (see the module docstring and
    ``job.py``'s consistency argument for why the halves are split)."""
    kept = flagged.where(F.col("accepted")).drop("_first")
    return (
        kept.groupBy("doc_id", "session")
        .agg(
            # sort_array orders the structs by seq (unique among accepted
            # rows); no lambda, so the projection is code-generated
            F.flatten(
                F.sort_array(F.collect_list(F.struct("seq", "chunk_tokens")))
                .getField("chunk_tokens")
            ).alias("tokens"),
            F.sum(F.size("chunk_tokens")).cast("long").alias("n_tok"),
            # the survivor source of the stream's least accepted seq, not
            # that of whichever row the aggregate met first
            F.min_by("source", "seq").alias("source"),
            F.max("seq").cast("long").alias("last_seq_out"),
        )
        .select("doc_id", "session", "tokens", "n_tok", "source", "last_seq_out")
    )


def held_from_flags(flagged: DataFrame) -> DataFrame:
    """Held chunks (full payloads) from a ``_gate_flags`` output — what
    ``job.py`` persists as the carry-over cache between runs. Keeps
    ``first_held_run`` when the gate input carried it."""
    cols = ["doc_id", "session", "seq", "chunk_tokens", "source"]
    if "first_held_run" in flagged.columns:
        cols.append("first_held_run")
    return flagged.where(~F.col("accepted") & F.col("_first")).select(*cols)


def held_back(parsed: DataFrame, checkpoint: DataFrame | None = None) -> DataFrame:
    """The chunks the gate did NOT consume this run (gap suffixes + streams
    blocked on a resume gap) — the reference leaves these on disk for a later
    pass ("cache grows", /root/reference/datadecoder/README.md:13-15).
    Returns distinct (doc_id, session, seq)."""
    return held_from_flags(_gate_flags(parsed, checkpoint)).select(
        "doc_id", "session", "seq"
    )

