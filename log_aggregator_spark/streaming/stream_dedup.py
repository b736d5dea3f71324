"""Streaming deduplication service — the rolling-ingest form of the dedup
family, run as Structured Streaming over the stored dedup state tables.

A 100 TB corpus is deduplicated ONCE in its life; after that every crawl
batch must be folded in incrementally: probe the stored indexes, update the
stored cluster table, append the batch's own index rows — never re-read old
text. The batch seams for this already exist (``incremental_exact``,
``incremental_near_lsh``, ``merge_clusters``); this module is the service
that drives them from a stream:

    readStream(file source over a documents table)
      → foreachBatch:
          exact probe   — batch fingerprints vs the stored fp table
                          (LEFT ANTI survivors + dup edges to the stored
                          canonical; md5 fingerprints only, text never
                          crosses the shuffle)
          near probe    — MinHash band keys for content-fresh batch docs
                          vs the stored band-key index (ids-only equi-join
                          on (band, key), 24 B/row) PLUS the intra-batch
                          self-join (new↔new near-dups the index can't see
                          yet)
          cluster merge — ``merge_clusters_delta``: batch-sized CC over
                          the contracted subgraph; persists ONLY the delta
                          (new docs' labels appended, merge-event-sized
                          remap consolidated) — the corpus-wide cluster
                          table is never rebuilt NOR rewritten
          one ATOMIC ``TableGroup`` commit of {fingerprints, band_keys,
          clusters_base, label_remap, decisions} — a crash anywhere leaves
          the previous snapshot fully visible, and a replayed micro-batch
          empties out against the append-only base (content-keyed
          idempotence: exactly-once on top of Structured Streaming's
          at-least-once foreachBatch contract, robust even to a streaming
          checkpoint reset that restarts batch ids over live state —
          see ``apply_dedup_batch``).

Why state lives in ACID tables, NOT the streaming state store: dedup state
is corpus-sized (one fp + 4 band keys per EVER-ingested doc). A state store
keyed that way re-shuffles every batch into the full key space and holds
TBs of RocksDB per executor; the stored-table form probes with one ids-only
join against bucketed storage and appends. The state store is the right
home for the seq-gate (bounded per-stream state, ``stream_pipeline``); it
is the wrong home for an index over everything ever seen.

Recipe stability — the one semantic difference from the batch family: the
dynamic ``DF_CAP`` document-frequency cap is corpus-dependent (a shingle's
df changes as the corpus grows), so an index built with it cannot be probed
consistently later. The streaming recipe is therefore per-doc deterministic
— every shingle of the doc, optionally minus a FROZEN ``stop_shingles``
list (the static analog of the df-cap, refreshed offline like a stop-word
list; hot-bucket protection at probe time comes from the band-key join's
AQE skew handling plus the stop list). Under one shared recipe the
streaming fold is connectivity-identical to a full batch recompute —
pytest-proven two ways in tests/test_stream_dedup.py (exact-dup docs carry
band keys identical to their canonical's, so skipping them drops no
component connection; first-arrival vs min-doc-id canonicals differ only in
edge direction, and ``components`` labels by component min either way).

Reference parity: the reference's dedupe guarantee is per-restart-cycle
over its ``.lastSeq`` checkpoints (``datadecoder/README.md:9-15``); this is
the same idea — dedupe new arrivals against durable state, never rescan
history — lifted to corpus scale and near-duplicate semantics (SURVEY.md §2
S7/S13, §2b dedup family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..functions import dedup as fdedup
from ..session import persistent_rdd_ids, unpersist_rdds
from ..functions.text import shingles
from ..tableio import Snapshot, TableGroup

DOC_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)

# Group members. fingerprints: (fp, doc_id) — doc_id is the stored canonical
# holder of that content. band_keys: (doc_id, band, key) for every
# content-fresh doc. decisions: per-doc audit trail.
#
# The cluster table is stored BASE + DELTA, never rewritten per batch:
# clusters_base (doc_id, cluster_id) is APPEND-ONLY — each doc's label at
# ingest time; label_remap (old_label, new_label) is the small consolidated
# set of labels later merged into a smaller one (bounded by merge events,
# not corpus size; kept single-hop because labels only ever decrease).
# ``read_clusters`` resolves base through remap; ``compact_clusters`` folds
# the remap into the base periodically (the Iceberg merge-on-read →
# compaction amortization). A naive (doc_id, cluster_id) overwrite per
# micro-batch would rewrite the full corpus-sized table every batch —
# 16 TB/batch at 10^12 docs — which is exactly the cost shape this layout
# exists to avoid.
FINGERPRINTS = "fingerprints"
BAND_KEYS = "band_keys"
CLUSTERS_BASE = "clusters_base"
LABEL_REMAP = "label_remap"
DECISIONS = "decisions"

_BASE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("cluster_id", LongType()),
    ]
)
_REMAP_SCHEMA = StructType(
    [
        StructField("old_label", LongType()),
        StructField("new_label", LongType()),
    ]
)
_FP_SCHEMA = StructType(
    [StructField("fp", StringType()), StructField("doc_id", LongType())]
)
_KEYS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("band", LongType()),
        StructField("key", StringType()),
    ]
)

VERDICT_EXACT = "exact_dup"
VERDICT_NEAR = "near_dup_suspect"
VERDICT_UNIQUE = "unique"


# THE shared normalized-content fingerprint (single definition — the stored
# fp index is probe-consistent only under byte-identical normalization at
# every write/probe site; see content_fingerprint's docstring).
_fp = fdedup.content_fingerprint


def _free_new_rdds(spark: SparkSession, before: set[int]) -> None:
    """Free every RDD pinned since ``before`` was snapshotted. Each batch
    localCheckpoints ~4 batch-sized frames (plus the CC labels inside
    ``merge_clusters_delta``); without this a long-running stream leaks one
    pinned generation per micro-batch until executor storage fills and an
    evicted localCheckpoint block kills the stream. Scoped by RDD id so
    pre-existing pins (e.g. a seam cache in the same session) survive; the
    fold is the only concurrent checkpoint producer by contract
    (``_CC_LOCK`` already serializes the CC internals)."""
    unpersist_rdds(spark, exclude=before)


def batch_band_keys(
    docs: DataFrame, stop_shingles: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band, key) under the per-doc deterministic recipe: all word
    3-gram shingles (minus the frozen stop list) → 8 minhashes → 4 banded
    keys. MUST be used for both index build and probe — see module header
    on recipe stability."""
    sh = shingles(docs, n=3)
    if stop_shingles is not None:
        sh = sh.join(
            F.broadcast(stop_shingles.select("shingle")), "shingle", "left_anti"
        )
    return fdedup.minhash_band_keys(
        fdedup.minhash_signatures(docs, shingles_df=sh)
    )


def _empty(spark: SparkSession, schema: StructType) -> DataFrame:
    return spark.createDataFrame([], schema=schema)


def read_clusters(
    spark: SparkSession, group: TableGroup, snapshot: Snapshot | None = None
) -> DataFrame:
    """The resolved duplicate-clusters view: append-only base labels
    resolved through the consolidated remap (single-hop by construction).
    Remap is merge-event-sized — broadcast under AQE in the common case;
    past broadcast size the join degrades gracefully to a shuffle join and
    ``compact_clusters`` resets it. Both members come from one view,
    ``snapshot`` (default: the group's current one): a compaction that
    lands between the two reads would otherwise pair the old base with the
    emptied remap and undo every merge."""
    view = snapshot if snapshot is not None else group.snapshot()
    base = view.read(spark, CLUSTERS_BASE)
    remap = view.read(spark, LABEL_REMAP)
    return (
        base.join(remap, base["cluster_id"] == remap["old_label"], "left")
        .select(
            "doc_id",
            F.coalesce("new_label", F.col("cluster_id")).alias("cluster_id"),
        )
        .withColumn(
            "is_canonical",
            (F.col("doc_id") == F.col("cluster_id")).cast("long"),
        )
    )


def compact_clusters(spark: SparkSession, group: TableGroup) -> int:
    """Fold the remap into the base (ONE amortized corpus-sized rewrite)
    and empty it — run when the remap outgrows broadcast size, exactly like
    Iceberg table compaction. Atomic: readers see either the old
    base+remap or the new base+empty, never a half state. Committed against
    the snapshot it read, so a fold that lands meanwhile fails it with
    ConcurrentCommitError instead of being overwritten."""
    view = group.snapshot()
    resolved = read_clusters(spark, group, view).select("doc_id", "cluster_id")
    return group.commit(
        {
            CLUSTERS_BASE: (resolved, "overwrite"),
            LABEL_REMAP: (_empty(spark, _REMAP_SCHEMA), "overwrite"),
        },
        lineage={"compacted_from": view.id},
        parent=view,
    )


def apply_dedup_batch(
    spark: SparkSession,
    group: TableGroup,
    batch: DataFrame,
    batch_id: int,
    stop_shingles: DataFrame | None = None,
    auto_compact_rows: int | None = None,
) -> int | None:
    """Fold one micro-batch of documents into the dedup state group.
    Returns the new group snapshot id, or None when the batch added
    nothing. Usable directly for a non-streaming rolling batch job;
    ``stream_dedup`` wires it as the foreachBatch sink.

    Exactly-once rests on CONTENT, not on batch ids: every ingested doc is
    in the append-only base, the anti-join below drops already-folded docs,
    and the group commit is atomic — so a foreachBatch replay after a crash
    (same rows re-delivered) empties out and returns None, while a batch
    delivered after a checkpoint reset (batch ids restart at 0 over the
    same state group) still folds in exactly its never-seen docs. An
    id-based "already applied" guard would silently discard that second
    case; batch_id is recorded in lineage as audit metadata only. All
    frames localCheckpoint'd while folding are freed before returning —
    a long-running stream pins nothing across batches.

    ``auto_compact_rows``: when set, a fold that leaves the consolidated
    remap larger than this many rows is followed by ``compact_clusters``
    — the maintenance policy a long-running service needs in-loop, not as
    an operator runbook step. The compaction is its OWN atomic commit
    after the fold's: a crash between the two leaves the folded snapshot
    fully visible and merely defers compaction to the next trigger (the
    threshold check re-fires), so the exactly-once story is untouched.
    Size the threshold to the remap broadcast budget (rows ≈ 32 B each;
    the default-off None keeps ad-hoc/batch callers explicit)."""
    pinned_before = persistent_rdd_ids(spark)
    try:
        snap = _fold_batch(spark, group, batch, batch_id, stop_shingles)
        if (
            snap is not None
            and auto_compact_rows is not None
            and group.snapshot(snap).read(spark, LABEL_REMAP).count()
            > auto_compact_rows
        ):
            compact_clusters(spark, group)
        return snap
    finally:
        _free_new_rdds(spark, pinned_before)


def _fold_batch(
    spark: SparkSession,
    group: TableGroup,
    batch: DataFrame,
    batch_id: int,
    stop_shingles: DataFrame | None = None,
) -> int | None:
    # every state read below is through this view; the commit is against it
    view = group.snapshot()

    # At-least-once upstream: collapse intra-batch re-deliveries, drop docs
    # already folded in by an earlier batch (ids-only anti-join against the
    # append-only base — membership needs no remap resolution).
    batch = batch.select("doc_id", "text").dropDuplicates(["doc_id"])
    if view.id is not None:
        base = view.read(spark, CLUSTERS_BASE)
        old_remap = view.read(spark, LABEL_REMAP)
        stored = read_clusters(spark, group, view)
        fp_tbl = view.read(spark, FINGERPRINTS)
        key_tbl = view.read(spark, BAND_KEYS)
        batch = batch.join(base.select("doc_id"), "doc_id", "left_anti")
    else:
        old_remap = _empty(spark, _REMAP_SCHEMA)
        stored = _empty(spark, _BASE_SCHEMA)
        fp_tbl = _empty(spark, _FP_SCHEMA)
        key_tbl = _empty(spark, _KEYS_SCHEMA)

    # The batch is re-read by every stage below (fp probe, shingling,
    # decisions); pin the batch-sized frame once instead of re-running the
    # source scan + anti-join per consumer. The count doubles as the empty
    # check — one job over the pinned partitions, not an isEmpty job plus a
    # count job later (per-batch serial floor: every driver-scheduled job
    # counts).
    batch = batch.localCheckpoint()
    n_docs = batch.count()
    if n_docs == 0:
        return None

    # ---- exact probe (fingerprints only; text never crosses a shuffle).
    # ONE corpus-index scan: the stored fp table holds one row per fp (only
    # fresh canonicals are ever appended), so a single LEFT join both finds
    # the stored canonical (hit) and marks content-fresh docs (miss); the
    # checkpoint pins the batch-sized probe result so the member writes and
    # the decisions job never re-run the corpus scan (the threaded commit
    # runs separate jobs — ReuseExchange can't dedup across them).
    bfp = batch.select("doc_id", _fp(F.col("text")).alias("fp"))
    probed = bfp.join(
        fp_tbl.select("fp", F.col("doc_id").alias("dup_of")), "fp", "left"
    ).localCheckpoint()
    corpus_hits = probed.where(F.col("dup_of").isNotNull()).select(
        "doc_id", "dup_of"
    )
    fresh = probed.where(F.col("dup_of").isNull()).select("doc_id", "fp")
    canon = fresh.groupBy("fp").agg(F.min("doc_id").alias("canon"))
    fresh_canon = fresh.join(canon, "fp").where(
        F.col("doc_id") == F.col("canon")
    )
    batch_stars = (
        fresh.join(canon, "fp")
        .where(F.col("doc_id") != F.col("canon"))
        .select("doc_id", F.col("canon").alias("dup_of"))
    )
    exact_edges = corpus_hits.unionByName(batch_stars).select(
        F.col("doc_id").alias("doc_a"), F.col("dup_of").alias("doc_b")
    )

    # ---- near probe: band keys ONLY for content-fresh canonicals (an
    # exact dup's shingles are its canonical's shingles — identical keys,
    # zero extra connectivity; see module header for the parity proof).
    new_keys = batch_band_keys(
        batch.join(fresh_canon.select("doc_id"), "doc_id"), stop_shingles
    ).localCheckpoint()  # feeds two probes + the index append
    vs_corpus = (
        new_keys.join(
            key_tbl.select("band", "key", F.col("doc_id").alias("c_doc")),
            ["band", "key"],
        )
        .select(F.col("doc_id").alias("doc_a"), F.col("c_doc").alias("doc_b"))
        .distinct()
    )
    a, b = new_keys.alias("a"), new_keys.alias("b")
    vs_batch = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # Checkpoint = one stored band-key-index scan per batch (the edge set
    # feeds both the CC materialization and the decisions job).
    near_edges = vs_corpus.unionByName(vs_batch).localCheckpoint()

    # ---- incremental cluster maintenance: persist the DELTA, not a
    # rewritten corpus table (batch-sized CC; O(batch + merges) rows
    # written). Consolidate the stored remap through this batch's merges
    # so it stays single-hop: (a→b) becomes (a→c) when this batch merges
    # b→c; entries for labels current until now are appended as-is.
    batch_labels, delta = fdedup.merge_clusters_delta(
        stored,
        batch.select("doc_id"),
        exact_edges.unionByName(near_edges),
    )
    delta = delta.localCheckpoint()  # read twice below; merge-event-sized
    composed = (
        old_remap.join(
            F.broadcast(delta), old_remap["new_label"] == delta["old_label"], "left"
        )
        .select(
            old_remap["old_label"],
            F.coalesce(delta["new_label"], old_remap["new_label"]).alias(
                "new_label"
            ),
        )
    )
    new_remap = composed.unionByName(delta)

    # ---- audit decisions (exact beats near; near = any band collision)
    near_docs = (
        near_edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(near_edges.select(F.col("doc_b").alias("doc_id")))
        .join(batch.select("doc_id"), "doc_id")  # only batch-side verdicts
        .distinct()
        .withColumn("_near", F.lit(1))
    )
    exact_docs = exact_edges.select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("dup_of")
    )
    decisions = (
        batch.select("doc_id")
        .join(exact_docs, "doc_id", "left")
        .join(near_docs, "doc_id", "left")
        .select(
            F.lit(int(batch_id)).cast("long").alias("batch_id"),
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), F.lit(VERDICT_EXACT))
            .when(F.col("_near").isNotNull(), F.lit(VERDICT_NEAR))
            .otherwise(F.lit(VERDICT_UNIQUE))
            .alias("verdict"),
            F.col("dup_of").cast("long").alias("dup_of"),
        )
    )

    return group.commit(
        {
            FINGERPRINTS: (
                fresh_canon.select("fp", F.col("doc_id").cast("long")),
                "append",
            ),
            BAND_KEYS: (new_keys, "append"),
            CLUSTERS_BASE: (batch_labels, "append"),
            LABEL_REMAP: (new_remap, "overwrite"),
            DECISIONS: (decisions, "append"),
        },
        lineage={"batch_id": int(batch_id), "n_docs": int(n_docs)},
        parent=view,
    )


def stream_dedup(
    spark: SparkSession,
    docs_dir: str,
    state_root: str,
    max_files_per_trigger: int | None = None,
    stop_shingles: DataFrame | None = None,
    schema: str = DOC_SCHEMA,
    auto_compact_rows: int | None = None,
):
    """DataStreamWriter folding a document stream into the dedup state
    group at ``state_root``. Caller attaches checkpoint + trigger:

        stream_dedup(spark, in_dir, state_root)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()

    Rate limiting via ``maxFilesPerTrigger`` bounds per-batch probe size
    exactly like the pipeline stream (S16 analog). ``auto_compact_rows``
    keeps the label remap bounded in-loop (see ``apply_dedup_batch``)."""
    group = TableGroup(state_root)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_dir)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        apply_dedup_batch(
            spark, group, batch_df, batch_id, stop_shingles,
            auto_compact_rows=auto_compact_rows,
        )

    return docs.writeStream.foreachBatch(_sink)
