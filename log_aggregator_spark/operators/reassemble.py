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

Two physical strategies, same semantics (cross-checked in tests):

``reassemble``      — ``groupBy(doc_id, session).applyInPandas`` with a fully
                      numpy-vectorized kernel. One shuffle on the group key;
                      per-key single-writer discipline falls out of Spark's
                      partitioning (the reference needed a dedicated
                      single-threaded executor for this,
                      ``datadecoder/.../AppConfig.java:16-27``).
``reassemble_sql``  — pure built-in window/aggregate plan (lag-free gap cut via
                      ``seq - row_number()``), whole-stage codegen, no Python.

At 100 TB: both shuffle once on (doc_id, session) — the minimum possible, since
reassembly is a per-stream total order. AQE handles skew in doc sizes; the
pandas variant bounds memory per group by the doc length (≤ a few MB), the SQL
variant spills via Tungsten sort. ``reassemble_sql`` is the default in the
pipeline (codegen beats Arrow transfer; see BENCH).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_OUT_SCHEMA = (
    "doc_id string, session long, tokens array<int>, n_tok long, source string, "
    "last_seq_out long"
)


def _with_last_seq(parsed: DataFrame, checkpoint: DataFrame | None) -> DataFrame:
    """Attach resume state. The checkpoint table is small (one row per live
    stream) → broadcast, never a shuffle."""
    if checkpoint is None:
        return parsed.withColumn("last_seq", F.lit(0).cast("long"))
    return parsed.join(
        F.broadcast(checkpoint.select("doc_id", "session", "last_seq")),
        ["doc_id", "session"],
        "left",
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
    """The pure gate decision, shared by the batch kernel and the streaming
    state kernel: given raw (possibly shuffled, duplicated) seqs and the
    stream's ``last`` state, return (accepted original indices in emit
    order, new last, held original indices — dedupe'd live chunks past the
    first gap).

    Duplicate-seq survivor rule: the reference collector keeps the FIRST
    arrival (PBLogFileCollector.java:67-70) — but arrival order does not
    survive a distributed shuffle, so "first" is not reproducible here.
    This engine's rule, uniform across all three batch strategies and the
    streaming gate: among rows with equal seq, the lexicographically-least
    token payload wins (deterministic, retry/speculation-stable, and
    identical to first-wins whenever duplicate payloads are identical —
    the only case the reference's own corpus produces). ``payload_rank``
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


def _gate_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized per-(doc_id, session) gate + concat (``gate_select`` on
    numpy arrays — no per-row Python)."""
    last = int(pdf["last_seq"].iloc[0])
    seqs = pdf["seq"].to_numpy()
    ranks = payload_ranks(seqs, pdf["chunk_tokens"].to_numpy())
    idx, new_last, _held = gate_select(seqs, last, ranks)
    if len(idx) == 0:
        return _empty_out()

    arrays = pdf["chunk_tokens"].to_numpy()[idx]
    tokens = np.concatenate([np.asarray(a, dtype=np.int32) for a in arrays]) if len(arrays) else np.array([], dtype=np.int32)
    return pd.DataFrame(
        {
            "doc_id": [pdf["doc_id"].iloc[0]],
            "session": [pdf["session"].iloc[0]],
            "tokens": [tokens],
            "n_tok": [len(tokens)],
            "source": [pdf["source"].iloc[0]],
            "last_seq_out": [new_last],
        }
    )


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype=object),
            "session": pd.Series([], dtype="int64"),
            "tokens": pd.Series([], dtype=object),
            "n_tok": pd.Series([], dtype="int64"),
            "source": pd.Series([], dtype=object),
            "last_seq_out": pd.Series([], dtype="int64"),
        }
    )


def reassemble(parsed: DataFrame, checkpoint: DataFrame | None = None) -> DataFrame:
    """parsed(doc_id, session, seq, chunk_tokens, source) →
    (doc_id, session, tokens, n_tok, source, last_seq_out), one row per stream
    that emitted anything this run."""
    return (
        _with_last_seq(parsed, checkpoint)
        .groupBy("doc_id", "session")
        .applyInPandas(_gate_kernel, schema=_OUT_SCHEMA)
    )


def _gate_flags(parsed: DataFrame, checkpoint: DataFrame | None) -> DataFrame:
    """Deduped live chunks with an ``accepted`` flag — pure built-ins,
    ONE shuffle.

    Everything (dedupe, gap cut, init rule, zero rule) is computed from
    window functions over a single ``partitionBy(doc_id, session)
    .orderBy(seq)`` sort — one exchange, one sort, then the downstream
    groupBy(doc_id, session) reuses the partitioning (no second exchange).
    At 10^12 rows this is the irreducible minimum: reassembly IS a per-stream
    total order.

    Mechanics: among live chunks (``seq > last_seq``, plus the ``seq==0 &&
    last_seq==0`` init special case), ``_dr`` — the running count of
    first-occurrence rows — equals the dense rank of the row's seq among
    distinct seqs, so for the contiguous run starting at the anchor (first
    live positive seq) ``seq - _dr`` is the constant ``anchor -
    anchor_rank``; the first gap breaks the constant. Duplicate rows are
    dropped by keeping only the first occurrence per seq (``lag(seq) !=
    seq`` — the reference detects exactly this on insert,
    PBLogFileCollector.java:67-70). The survivor row's payload is then
    replaced by the peer-group minimum (``min(chunk_tokens) RANGE BETWEEN
    CURRENT ROW AND CURRENT ROW`` — the frame is exactly the equal-seq
    rows), so the emitted payload is the lexicographically-least among
    equal seqs — the engine's deterministic survivor rule (see
    ``gate_select``) — WITHOUT putting the token array into the sort key:
    a single long sort key keeps SortExec on the radix path, and the
    array comparator runs only inside the (corruption-rare) multi-row
    peer frames. A seq==0 chunk with last_seq==0 is emitted but does NOT
    anchor the run: the reference writes last=0 after it, so the init
    rule re-fires for the next chunk (DataPumpDecoderSort.java:166-174).
    """
    w = Window.partitionBy("doc_id", "session").orderBy("seq")
    # Running frame (unbounded preceding → current row): with rows sorted by
    # seq, the stream anchor (first positive live seq) and the zero-chunk
    # flag (zero sorts first) are RUNNING aggregates — same (partition,
    # order) spec as lag/dense_rank, so Catalyst evaluates everything in ONE
    # WindowExec pass with a streaming frame (no whole-partition buffering,
    # no second Window materialization of 10^12 rows).
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # peer frame: all rows sharing the current row's seq (RANGE with both
    # bounds at CURRENT ROW = the SQL-standard peer group) — used to pick
    # the deterministic survivor payload among duplicate seqs. Same
    # (partition, order) spec as every other frame here → same WindowExec,
    # no extra exchange or sort.
    w_peer = w.rangeBetween(Window.currentRow, Window.currentRow)
    live = _with_last_seq(parsed, checkpoint).where(
        (F.col("seq") > F.col("last_seq"))
        | ((F.col("seq") == 0) & (F.col("last_seq") == 0))
    )
    zero = (F.col("seq") == 0) & (F.col("last_seq") == 0)
    anchor = F.first(F.when(F.col("seq") > 0, F.col("seq")), ignorenulls=True).over(w_run)
    anchor_rank = F.lit(1) + F.max(F.when(zero, 1).otherwise(0)).over(w_run)
    return (
        live.withColumn("_first", F.lag("seq").over(w).isNull() | (F.lag("seq").over(w) != F.col("seq")))
        # deterministic survivor payload: least among equal seqs (peer
        # frames are size 1 except for duplicate seqs, so the array
        # comparator is off the hot path)
        .withColumn("chunk_tokens", F.min("chunk_tokens").over(w_peer))
        # running count of first-occurrences == dense rank of seq among
        # distinct seqs; computed as a second window expr over the SAME
        # (partition, order) spec, so no extra exchange or sort — the input
        # is already partitioned and ordered for it. (dense_rank itself
        # would split equal seqs with differing payloads once the payload
        # joins the sort key.)
        .withColumn("_dr", F.sum(F.col("_first").cast("long")).over(w_run))
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
        .drop("_dr")
    )


def reassemble_sql(parsed: DataFrame, checkpoint: DataFrame | None = None) -> DataFrame:
    """Same semantics as ``reassemble``, pure built-ins (no Python)."""
    return reassemble_from_flags(_gate_flags(parsed, checkpoint))


def reassemble_from_flags(flagged: DataFrame) -> DataFrame:
    """The aggregate half of ``reassemble_sql``, split out so a caller that
    MATERIALIZES the gate decision once (job.py holds ``_gate_flags``
    output as an eager local checkpoint) can derive reassembly, held state
    and checkpoint from the same physical rows — one computation observed
    by every commit, instead of N independent recomputations that task
    retries could silently diverge."""
    kept = flagged.where(F.col("accepted")).drop("_first")
    return (
        kept.groupBy("doc_id", "session")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seq", "chunk_tokens"))),
                    lambda s: s["chunk_tokens"],
                )
            ).alias("tokens"),
            F.sum(F.size("chunk_tokens")).cast("long").alias("n_tok"),
            F.first("source").alias("source"),
            F.max("seq").cast("long").alias("last_seq_out"),
        )
        .withColumn(
            # a stream that emitted only seq 0 keeps last_seq_out = 0
            "last_seq_out",
            F.when(F.col("last_seq_out") < 0, F.lit(0)).otherwise(F.col("last_seq_out")),
        )
        .select("doc_id", "session", "tokens", "n_tok", "source", "last_seq_out")
    )


def reassemble_agg(parsed: DataFrame, checkpoint: DataFrame | None = None) -> DataFrame:
    """Same semantics as ``reassemble``/``reassemble_sql``, third physical
    strategy: ONE hash aggregate, ZERO window passes.

    ``reassemble_sql`` pays an exchange + full sort + two WindowExec
    materializations of every chunk row before it even starts aggregating —
    at 10^12 rows that is the dominant memory traffic. Here the gate runs
    *inside* the aggregated row: ``collect_list`` gathers each stream's
    chunks (hash agg, partial on the map side), ``array_sort`` orders the
    ~tens of per-stream items, and one ``aggregate`` higher-order function
    replays the reference's gate loop (DataPumpDecoderSort.java:142-181)
    over the sorted items — duplicate skip, init rule, zero rule, first-gap
    stop — exactly the loop shape, but per aggregated row instead of per
    window frame. The accumulator appends chunk *references* into an
    array-of-arrays (pointer copies, not token copies) and flattens once at
    the end, so token bytes are touched exactly once.

    Whole plan: scan → parse → one shuffle on (doc_id, session) → hash agg →
    codegen'd HOF projection. Measured (500k-doc synth corpus, local[32],
    min-of-2 after warm-up): sql 4.6 s, agg 14.3 s, pandas 112 s — the HOF
    gate's interpreted expression tree loses to the window plan's
    whole-stage codegen, and ObjectHashAggregate falls back to sort-based
    past 128 keys per partition. Kept as the third cross-check strategy
    and as the shape a future codegen'd aggregate could win with;
    ``reassemble_sql`` is the production default.
    """
    live = _with_last_seq(parsed, checkpoint).where(
        (F.col("seq") > F.col("last_seq"))
        | ((F.col("seq") == 0) & (F.col("last_seq") == 0))
    )
    grouped = live.groupBy("doc_id", "session").agg(
        F.array_sort(F.collect_list(F.struct("seq", "chunk_tokens"))).alias("items"),
        F.first("source").alias("source"),
        F.first("last_seq").alias("last_seq"),
    )

    init = F.struct(
        F.col("last_seq").cast("long").alias("last"),
        F.lit(-1).cast("long").alias("prev"),  # previous item's seq (dedupe)
        F.array().cast("array<array<int>>").alias("toks"),
        F.lit(False).alias("stopped"),
        F.lit(0).alias("n_acc"),
    )

    def step(st, it):
        # duplicate = same seq as the previous sorted item (the reference
        # collector rejects these on insert, PBLogFileCollector.java:67-70) —
        # NOT same as the gate's `last`, which is 0 both initially and after
        # the seq==0 quirk. array_sort on struct(seq, chunk_tokens) ordered
        # the items by (seq, payload), so the survivor among equal seqs is
        # the lexicographically-least payload — the same deterministic rule
        # as the other strategies (see gate_select).
        dup = it["seq"] == st["prev"]
        zero = (it["seq"] == 0) & (st["last"] == 0)
        ok = (~st["stopped"]) & (~dup) & (
            zero | (it["seq"] == st["last"] + 1) | (st["last"] == 0)
        )
        return F.struct(
            F.when(ok & ~zero, it["seq"]).otherwise(st["last"]).alias("last"),
            F.when(st["stopped"], st["prev"]).otherwise(it["seq"]).alias("prev"),
            F.when(ok, F.concat(st["toks"], F.array(it["chunk_tokens"])))
            .otherwise(st["toks"])
            .alias("toks"),
            (st["stopped"] | ((~dup) & (~ok))).alias("stopped"),
            (st["n_acc"] + F.when(ok, 1).otherwise(0)).alias("n_acc"),
        )

    return (
        grouped.withColumn("st", F.aggregate("items", init, step))
        .where(F.col("st.n_acc") > 0)
        .select(
            "doc_id",
            "session",
            F.flatten("st.toks").alias("tokens"),
            F.col("st.n_acc").alias("_n_acc"),
            "source",
            F.col("st.last").alias("last_seq_out"),
        )
        .withColumn("n_tok", F.size("tokens").cast("long"))
        .select("doc_id", "session", "tokens", "n_tok", "source", "last_seq_out")
    )


def held_from_flags(flagged: DataFrame) -> DataFrame:
    """Held chunks (full payloads) from a materialized ``_gate_flags``
    output — see ``reassemble_from_flags``."""
    return (
        flagged.where(~F.col("accepted") & F.col("_first"))
        .select("doc_id", "session", "seq", "chunk_tokens", "source")
    )


def held_back(parsed: DataFrame, checkpoint: DataFrame | None = None) -> DataFrame:
    """The chunks the gate did NOT consume this run (gap suffixes + streams
    blocked on a resume gap) — the reference leaves these on disk for a later
    pass ("cache grows", /root/reference/datadecoder/README.md:13-15).
    Returns distinct (doc_id, session, seq)."""
    return (
        _gate_flags(parsed, checkpoint)
        .where(~F.col("accepted") & F.col("_first"))
        .select("doc_id", "session", "seq")
    )


def held_back_full(
    parsed: DataFrame, checkpoint: DataFrame | None = None
) -> DataFrame:
    """Like ``held_back`` but with full chunk payloads — what ``job.py``
    persists as the carry-over cache between runs (the exact analog of the
    reference leaving unconsumed ``.pbData`` files on disk for the next
    directory pass, ``/root/reference/datadecoder/README.md:13-15``)."""
    return held_from_flags(_gate_flags(parsed, checkpoint))
