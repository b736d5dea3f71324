"""Streaming dedup gate: the rolling foreachBatch fold over the stored
state group must be connectivity-identical to a full batch recompute over
the union corpus (same per-doc recipe, exact+minhash edge families), and
exactly-once under micro-batch replay."""

from __future__ import annotations

import random

import pandas as pd
import pytest

from log_aggregator_spark.functions import dedup as fdedup
from log_aggregator_spark.functions.text import shingles
from log_aggregator_spark.streaming import apply_dedup_batch, stream_dedup
from log_aggregator_spark.streaming.stream_dedup import (
    BAND_KEYS,
    CLUSTERS_BASE,
    DECISIONS,
    FINGERPRINTS,
    LABEL_REMAP,
    VERDICT_EXACT,
    compact_clusters,
    read_clusters,
)
from log_aggregator_spark.tableio import ConcurrentCommitError, TableGroup

_WORDS = [f"tok{i}" for i in range(40)]


def _corpus(n_docs: int, seed: int = 7) -> pd.DataFrame:
    """Deterministic synthetic corpus with exact-dup groups, near-dup
    mutation chains and uniques — the same perturbation style as the
    dedup-scale fixtures, small enough for exact parity asserts."""
    rng = random.Random(seed)
    rows = []
    base_texts: list[str] = []
    for d in range(n_docs):
        r = rng.random()
        if base_texts and r < 0.25:
            # exact duplicate of an earlier doc
            text = rng.choice(base_texts)
        elif base_texts and r < 0.5:
            # near duplicate: mutate one word of an earlier doc
            w = rng.choice(base_texts).split()
            w[rng.randrange(len(w))] = rng.choice(_WORDS)
            text = " ".join(w)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(12))
            base_texts.append(text)
        rows.append((d, text, "en", f"src{d % 3}", len(text)))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def _docs_df(spark, pdf):
    return spark.createDataFrame(
        pdf,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )


def _full_recompute(spark, pdf) -> pd.DataFrame:
    """Ground truth: batch duplicate_clusters over the union corpus with the
    SAME per-doc recipe the stream uses (uncapped shingles — recipe
    stability, see stream_dedup module header) and the streaming edge
    families (exact + minhash)."""
    docs = _docs_df(spark, pdf)
    return (
        fdedup.duplicate_clusters(
            docs,
            shingles_df=shingles(docs, n=3),
            edge_families=("exact", "minhash"),
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def _stored_clusters(spark, group) -> pd.DataFrame:
    return (
        read_clusters(spark, group)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_stream_dedup_matches_batch_recompute(spark, tmp_path):
    pdf = _corpus(60)
    in_dir, state, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    # three files -> three micro-batches under maxFilesPerTrigger=1
    for lo, hi in [(0, 20), (20, 40), (40, 60)]:
        _docs_df(spark, pdf.iloc[lo:hi]).coalesce(1).write.mode(
            "append"
        ).parquet(in_dir)

    q = (
        stream_dedup(spark, in_dir, state, max_files_per_trigger=1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    group = TableGroup(state)
    got = _stored_clusters(spark, group)
    want = _full_recompute(spark, pdf)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # one atomic group snapshot per non-empty micro-batch
    assert group.current_snapshot() is not None
    assert group.snapshot().lineage["n_docs"] > 0


def test_apply_batch_incremental_equals_recompute_and_replay_is_noop(
    spark, tmp_path
):
    pdf = _corpus(50, seed=11)
    group = TableGroup(str(tmp_path / "state"))

    snap1 = apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[:25]), 0)
    snap2 = apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[25:]), 1)
    assert snap1 == 1 and snap2 == 2

    want = _full_recompute(spark, pdf)
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, group), want, check_dtype=False
    )

    # foreachBatch replay after a failure re-delivers the same batch_id:
    # the fold must be a no-op (exactly-once on at-least-once delivery).
    assert apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[25:]), 1) is None
    assert group.current_snapshot() == 2
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, group), want, check_dtype=False
    )

    # cross-batch re-delivery of already-folded docs under a NEW batch_id:
    # ids are anti-joined out; empty residue commits nothing.
    assert apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[:10]), 2) is None
    assert group.current_snapshot() == 2

    # storage shape: the base is APPEND-ONLY with one row per folded doc
    # (never a rewritten corpus table), the remap is single-hop and
    # bounded by merge events, and compaction folds it in atomically
    # without changing the resolved view.
    base = group.table(CLUSTERS_BASE).read(spark).toPandas()
    assert len(base) == len(pdf) and base.doc_id.is_unique
    remap = group.table(LABEL_REMAP).read(spark).toPandas()
    assert (remap.new_label < remap.old_label).all()  # labels only decrease
    assert not set(remap.old_label) & set(remap.new_label)  # single-hop
    compact_clusters(spark, group)
    assert group.table(LABEL_REMAP).read(spark).count() == 0
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, group), want, check_dtype=False
    )
    # and folding continues cleanly after a compaction
    assert apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[:10]), 3) is None


def test_stream_dedup_state_tables_and_decisions(spark, tmp_path):
    # 3 identical docs + 1 near pair + 1 unique across two batches
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1),
        (1, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1),
        (2, "alpha beta gamma delta epsilon zeta eta IOTA", "en", "s", 1),
        (3, "alpha beta gamma delta epsilon zeta eta theta", "en", "s", 1),
        (4, "totally different words entirely unrelated here now yes", "en", "s", 1),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    group = TableGroup(str(tmp_path / "state"))
    apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[:3]), 0)
    apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[3:]), 1)

    # fingerprint table holds one row per distinct content, canonical = first arrival
    fps = group.table(FINGERPRINTS).read(spark).toPandas()
    assert len(fps) == 3  # {0-dup content, 2's content, 4's content}
    assert set(fps.doc_id) == {0, 2, 4}

    # band keys only for content-fresh canonicals (exact dups carry none)
    keys = group.table(BAND_KEYS).read(spark).toPandas()
    assert set(keys.doc_id.unique()) == {0, 2, 4}

    dec = group.table(DECISIONS).read(spark).toPandas()
    exact = dec[dec.verdict == VERDICT_EXACT].sort_values("doc_id")
    assert list(exact.doc_id) == [1, 3]
    assert list(exact.dup_of) == [0, 0]  # both point at the stored canonical

    # docs 0,1,2,3 share one cluster (exact + near edges); 4 is alone
    cl = _stored_clusters(spark, group)
    by_doc = dict(zip(cl.doc_id, cl.cluster_id))
    assert by_doc[0] == by_doc[1] == by_doc[2] == by_doc[3] == 0
    assert by_doc[4] == 4
    # parity with full recompute on the union corpus
    pd.testing.assert_frame_equal(cl, _full_recompute(spark, pdf), check_dtype=False)


def test_stream_dedup_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill/restart: second availableNow run over a grown input folds ONLY
    the new files (checkpoint) and replaying the state group from scratch
    is never needed."""
    pdf = _corpus(40, seed=3)
    in_dir, state, ckpt = (
        str(tmp_path / "in"),
        str(tmp_path / "state"),
        str(tmp_path / "ckpt"),
    )
    _docs_df(spark, pdf.iloc[:20]).coalesce(1).write.mode("append").parquet(in_dir)
    q = (
        stream_dedup(spark, in_dir, state, max_files_per_trigger=1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    group = TableGroup(state)
    snap_mid = group.current_snapshot()
    assert snap_mid is not None

    _docs_df(spark, pdf.iloc[20:]).coalesce(1).write.mode("append").parquet(in_dir)
    q = (
        stream_dedup(spark, in_dir, state, max_files_per_trigger=1)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    assert group.current_snapshot() > snap_mid
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, group),
        _full_recompute(spark, pdf),
        check_dtype=False,
    )


def test_checkpoint_reset_does_not_drop_new_docs(spark, tmp_path):
    """Operator resets the streaming checkpoint (required e.g. when source
    options change) while the state group persists: batch ids restart at 0
    and the re-listing source re-delivers old docs MIXED with never-seen
    ones. The fold must ingest exactly the new docs — an id-based replay
    guard would silently drop the whole batch."""
    pdf = _corpus(40, seed=21)
    group = TableGroup(str(tmp_path / "state"))
    apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[:20]), 0)
    apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[20:30]), 1)
    assert group.snapshot().lineage["batch_id"] == 1

    # fresh checkpoint: "batch 0" now carries everything the source lists —
    # 30 already-folded docs plus 10 never-seen ones
    snap = apply_dedup_batch(spark, group, _docs_df(spark, pdf), 0)
    assert snap is not None  # NOT skipped
    base = group.table(CLUSTERS_BASE).read(spark).toPandas()
    assert len(base) == 40 and base.doc_id.is_unique
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, group), _full_recompute(spark, pdf),
        check_dtype=False,
    )
    # true replay of that batch still empties out (content idempotence)
    assert apply_dedup_batch(spark, group, _docs_df(spark, pdf), 0) is None


def test_fold_frees_all_pinned_rdds(spark, tmp_path):
    """A long-running service folds thousands of micro-batches; every
    localCheckpoint generation pinned while folding (batch, probe, edges,
    CC labels) must be freed before apply_dedup_batch returns, or executor
    storage fills and an evicted checkpoint block kills the stream."""
    from log_aggregator_spark.session import persistent_rdd_ids

    pdf = _corpus(30, seed=33)
    group = TableGroup(str(tmp_path / "state"))
    # Sentinel: a pin the fold does NOT own must survive it — the fold's
    # cleanup is scoped by a before-snapshot diff, and an over-eager
    # unpersist_rdds(spark) without the exclude= snapshot would free
    # another component's cached data mid-session.
    pre_sentinel = persistent_rdd_ids(spark)
    sentinel = spark.createDataFrame([(1,)], "x long").persist()
    sentinel.count()
    before = persistent_rdd_ids(spark)
    sentinel_ids = before - pre_sentinel
    assert sentinel_ids  # the sentinel really did pin something
    apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[:15]), 0)
    apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[15:]), 1)
    try:
        # Subset, not equality: in a shared-session suite run the JVM
        # ContextCleaner may reclaim a PRIOR test's abandoned pins between
        # the two snapshots, shrinking the baseline. The fold's contract is
        # that it pins nothing NEW and frees nothing it does not own.
        after = persistent_rdd_ids(spark)
        assert after - before == set()
        # the sentinel is strongly referenced here, so only an explicit
        # unpersist could have removed its blocks
        assert sentinel_ids <= after
    finally:
        sentinel.unpersist()


def test_apply_batch_parity_fuzz_random_splits(spark, tmp_path):
    """Any ordered partition of any corpus into micro-batches folds to the
    same cluster table as the one-shot recompute — the invariant the whole
    service rests on, fuzzed over corpus shapes and split points."""
    for seed in (1, 2, 5):
        rng = random.Random(100 + seed)
        pdf = _corpus(45, seed=seed)
        cuts = sorted(rng.sample(range(1, 44), rng.randint(1, 4)))
        bounds = [0, *cuts, 45]
        group = TableGroup(str(tmp_path / f"state{seed}"))
        for b, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
            apply_dedup_batch(spark, group, _docs_df(spark, pdf.iloc[lo:hi]), b)
        pd.testing.assert_frame_equal(
            _stored_clusters(spark, group),
            _full_recompute(spark, pdf),
            check_dtype=False,
            obj=f"seed={seed} bounds={bounds}",
        )


def _merge_corpus() -> pd.DataFrame:
    """Deterministic merge events: batch 1 (rows 0-2) establishes
    canonicals 10/11, batch 2 (rows 3-5) delivers SMALLER ids carrying the
    same content — the exact probe edges (0,10) and (5,11) relabel both
    stored clusters, which is precisely the remap-growing case."""
    t1 = " ".join(_WORDS[:12])
    t2 = " ".join(_WORDS[12:24])
    t3 = " ".join(_WORDS[24:36])
    rows = [
        (10, t1), (11, t2), (12, t3),          # batch 1
        (0, t1), (5, t2), (13, " ".join(_WORDS[3:15])),  # batch 2
    ]
    return pd.DataFrame(
        [(d, t, "en", "src0", len(t)) for d, t in rows],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )


def test_auto_compact_keeps_remap_bounded_and_view_identical(spark, tmp_path):
    """In-loop maintenance policy: with auto_compact_rows=0 every fold that
    leaves merge events behind is followed by an atomic compaction, so the
    remap never outlives its trigger and the resolved view stays identical
    to the un-compacted fold and to the one-shot recompute."""
    pdf = _merge_corpus()
    plain = TableGroup(str(tmp_path / "plain"))
    auto = TableGroup(str(tmp_path / "auto"))
    for b, (lo, hi) in enumerate([(0, 3), (3, 6)]):
        batch = pdf.iloc[lo:hi]
        apply_dedup_batch(spark, plain, _docs_df(spark, batch), b)
        apply_dedup_batch(
            spark, auto, _docs_df(spark, batch), b, auto_compact_rows=0
        )
        assert auto.table(LABEL_REMAP).read(spark).count() == 0
    assert plain.table(LABEL_REMAP).read(spark).count() >= 2  # policy did work
    want = _full_recompute(spark, pdf)
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, auto), want, check_dtype=False
    )
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, plain), want, check_dtype=False
    )
    # replay under the policy still empties out (no compaction either:
    # a None fold never triggers one, so the snapshot chain is untouched)
    snap = auto.current_snapshot()
    assert (
        apply_dedup_batch(
            spark, auto, _docs_df(spark, pdf.iloc[:3]), 0, auto_compact_rows=0
        )
        is None
    )
    assert auto.current_snapshot() == snap


def test_compact_clusters_fails_on_fold_landing_after_its_read(
    spark, tmp_path, monkeypatch
):
    """compact_clusters commits against the snapshot it read: a fold that
    lands between its read and its commit fails it with
    ConcurrentCommitError, where its base overwrite would drop the folded
    docs. A retry compacts them in."""
    pdf = _corpus(12)
    g = TableGroup(str(tmp_path / "g"))
    apply_dedup_batch(spark, g, _docs_df(spark, pdf.iloc[:6]), 0)
    real_commit = TableGroup.commit
    fold = {"batch": _docs_df(spark, pdf.iloc[6:])}

    def fold_first(self, tables, lineage=None, **kwargs):
        batch, fold["batch"] = fold["batch"], None
        if batch is not None:
            apply_dedup_batch(spark, g, batch, 1)
        return real_commit(self, tables, lineage, **kwargs)

    monkeypatch.setattr(TableGroup, "commit", fold_first)
    with pytest.raises(ConcurrentCommitError):
        compact_clusters(spark, g)
    assert read_clusters(spark, g).count() == len(pdf)
    compact_clusters(spark, g)
    assert g.table(LABEL_REMAP).read(spark).count() == 0
    pd.testing.assert_frame_equal(
        _stored_clusters(spark, g), _full_recompute(spark, pdf), check_dtype=False
    )


def test_read_clusters_reads_one_snapshot(spark, tmp_path, monkeypatch):
    """read_clusters resolves the base through the remap of the same
    snapshot. A compaction that lands between its two member reads folds
    the remap into a new base and empties the remap; the view read before
    it still pairs the old base with the old remap, so docs 10 and 11
    resolve to the merged labels 0 and 5. Read at two snapshots, the old
    base met the empty remap and they kept labels 10 and 11."""
    from log_aggregator_spark import tableio

    pdf = _merge_corpus()
    g = TableGroup(str(tmp_path / "g"))
    for b, (lo, hi) in enumerate([(0, 3), (3, 6)]):
        apply_dedup_batch(spark, g, _docs_df(spark, pdf.iloc[lo:hi]), b)
    real_read_files = tableio.read_files
    pending = {"compact": True}

    def read_then_compact(*args):
        df = real_read_files(*args)
        if pending.pop("compact", False):
            compact_clusters(spark, g)
        return df

    monkeypatch.setattr(tableio, "read_files", read_then_compact)
    got = {r["doc_id"]: r["cluster_id"] for r in read_clusters(spark, g).collect()}
    assert not pending  # the compaction landed between the reads
    assert (got[10], got[11]) == (0, 5)
