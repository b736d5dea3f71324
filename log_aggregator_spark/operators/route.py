"""Router fan-out — per-sink partitioned writes.

The reference fans out one output file per (id, session)
(``/root/reference/datadecoder/.../DataPumpDecoderSort.java:93-97``), written
serially by one thread. Here the fan-out is a single partitioned write:

    enriched.write.partitionBy("sink")

**Zero extra shuffle by default.** The pipeline's reassembly exchange already
spread rows uniformly over tasks by hash(doc_id, session) — a distribution
that is immune to hot-*source* skew (a hot source's rows still scatter across
all tasks). ``partitionBy("sink")`` then has every task write one file per
sink it sees; no task is a straggler, and re-shuffling ~all pipeline bytes a
second time just to cluster by sink would double shuffle I/O at 10^12-row
scale for zero correctness gain.

``cluster_by_sink=True`` is the opt-in layout pass for when the *stored*
layout matters more than write throughput (few large files per sink →
cheaper downstream scans/compaction). That path is where hot-sink skew
exists, so it salts: ``repartition(32, sink, xxhash64(doc_id) % 8)``
spreads a hot sink over up to 8 of 32 writer tasks while keeping each
output file single-sink (north star: "salted repartitioning to defuse
hot-source skew").

``partitionBy("sink")`` gives per-sink directories = per-sink tables;
readers get partition pruning on sink for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def route_write(enriched: DataFrame, out_dir: str, cluster_by_sink: bool = False) -> None:
    """Write ``enriched`` under ``out_dir``, replacing what a previous write
    left there, one ``sink=`` directory per sink."""
    if cluster_by_sink:
        enriched = enriched.repartition(32, F.col("sink"), F.xxhash64("doc_id") % 8)
    enriched.write.mode("overwrite").partitionBy("sink").parquet(out_dir)
