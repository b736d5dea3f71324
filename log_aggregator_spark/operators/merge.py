"""CDC merge (MERGE INTO semantics) as a pure DataFrame operator.

The reference's state tables advance by replace-on-arrival — the server
overwrites a chunk file that re-arrives under the same name
(``/root/reference/server/.../LogServerController.java:115-129``: save is
an ``ATOMIC_MOVE`` onto the target path, last writer wins). At table
scale that discipline is MERGE: given a base snapshot and a batch of
keyed changes (upserts + deletes), produce the next snapshot where the
highest-version row per key survives and deleted keys disappear — the
Iceberg ``MERGE INTO`` / Delta upsert shape, built here from first
principles so it runs on the plain-parquet ``SnapshotTable`` backend too.

Scale shape: union + ONE partial-aggregated shuffle. The textbook
formulation is a full outer join base⟕batch (shuffles both sides, builds
a join hash, then a CASE per column); here both sides union (no data
movement — union is a plan concat) and the winner per key is
``max_by(payload_struct, version)`` — map-side combinable, so each
partition reduces to one candidate row per local key before the shuffle.
Deletes ride the same aggregate as tombstone rows filtered AFTER the
argmax: a delete only wins if it is the newest version, exactly MERGE's
``WHEN MATCHED AND op='D' THEN DELETE``. One Exchange total, no join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELETE_OP = "D"
UPSERT_OP = "U"
VERSION_COL = "version"
OP_COL = "op"


def merge_upsert(base: DataFrame, updates: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Last-writer-wins MERGE of ``updates`` into ``base``.

    ``base``: current snapshot (no version/op columns — it is implicitly
    version 0, op=U). ``updates``: change batch carrying every payload
    column of ``base`` plus ``version`` (monotone per key; must exceed 0 to
    win) and ``op`` ('U' upsert / 'D' delete). Returns the merged snapshot
    with ``version`` kept (provenance: which batch last touched the row).

    The contract is one row per key per version with version > 0 — but
    the argmax is deterministic even when a caller violates it: the winner
    is ordered by ``struct(version, rank)`` where rank is delete=2 >
    base-row=1 > batch-upsert=0 (an explicit rank bit: 'D' < 'U'
    lexically, so ordering on the raw op string would invert the
    convention). At equal version a delete beats everything — MERGE's
    "delete wins the tie" convention, including a delete arriving at
    exactly the base version 0 — and a batch upsert at version ≤ 0 loses
    to the base row deterministically instead of varying per run. Two
    batch upserts sharing (key, version) remain a contract violation
    (payload pick would still tie); everything the operator itself
    introduces (the base row at version 0) resolves deterministically.
    Output: keys + payload + version.
    """
    keys = list(keys)
    payload = [c for c in base.columns if c not in keys]
    b = base.select(
        *keys,
        *payload,
        F.lit(0).cast("long").alias(VERSION_COL),
        F.lit(UPSERT_OP).alias(OP_COL),
        F.lit(1).alias("_prov"),
    )
    u = updates.select(
        *keys,
        *payload,
        F.col(VERSION_COL).cast("long").alias(VERSION_COL),
        F.col(OP_COL),
        F.lit(0).alias("_prov"),
    )
    st = F.struct(*[F.col(c) for c in payload], F.col(OP_COL))
    order = F.struct(
        F.col(VERSION_COL),
        F.when(F.col(OP_COL) == DELETE_OP, F.lit(2))
        .otherwise(F.col("_prov"))
        .alias("_rank"),
    )
    winner = (
        b.unionByName(u)
        .groupBy(*keys)
        .agg(
            F.max_by(st, order).alias("_w"),
            F.max(VERSION_COL).cast("long").alias(VERSION_COL),
        )
    )
    return winner.where(F.col(f"_w.{OP_COL}") != DELETE_OP).select(
        *keys,
        *[F.col(f"_w.{c}").alias(c) for c in payload],
        F.col(VERSION_COL),
    )
