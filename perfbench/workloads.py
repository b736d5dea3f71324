"""The benchmark's workloads: how each one's inputs are generated from the
seed, and what one measured pass calls.

Inputs come from ``chunker.synth_chunks`` (integer arithmetic on ids, so a
seed always gives the same rows) and are written to parquet at the start of
every run; the program under test only ever sees that parquet.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_aggregator_spark import chunker, spec
from log_aggregator_spark.job import JobState, run_job
from log_aggregator_spark.operators.aggregate import sink_counts
from log_aggregator_spark.operators.route import route_write
from log_aggregator_spark.plans import run_pipeline
from log_aggregator_spark.tableio import SnapshotTable

from oracle import Shape, expected_batch, expected_resume


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    resume: bool = False

    @property
    def n_bad(self) -> int:
        """Malformed envelopes mixed into each resume input set."""
        return max(1, self.shape.n_docs // 200)

    def expected(self, seed: int) -> dict:
        """The oracle's output, plus the per-sink counts the pass itself
        returns (``sink_counts`` rows for batch, ``run_job``'s summary for
        resume)."""
        if self.resume:
            out = expected_resume(self.shape, seed, self.n_bad)
            out["counts"] = {s: v["n_rows"] for s, v in out["sinks"].items()}
        else:
            out = expected_batch(self.shape, seed)
            out["counts"] = {s: {k: v[k] for k in ("n_rows", "sum_n_tok", "n_docs")}
                             for s, v in out["sinks"].items()}
        return out


WORKLOADS = {
    w.name: w
    for w in (
        # row-bound: many 8-token chunks, so per-row parse and gate sort dominate
        Workload("batch_small_chunks", Shape(n_docs=12_000, min_tok=16, max_tok=256, chunk=8)),
        # incremental second pass over snapshot tables (default synth shape)
        Workload("resume_two_pass", Shape(n_docs=4_000), resume=True),
    )
}


def _synth(spark: SparkSession, shape: Shape, seed: int) -> DataFrame:
    return chunker.synth_chunks(
        spark, shape.n_docs, seed=seed, min_tok=shape.min_tok, max_tok=shape.max_tok,
        chunk=shape.chunk, n_sources=shape.n_sources, hot_permille=shape.hot_permille,
        dup_mod=shape.dup_mod, gap_mod=shape.gap_mod,
    )


def late_col() -> "F.Column":
    """True for the resume workload's late chunks: mirrors ``oracle.is_late``."""
    key = r"^doc(\d+)_(\d+)_(\d+)\.pbData$"
    dnum = F.regexp_extract("envelope", key, 1).cast("long")
    sidx = (F.regexp_extract("envelope", key, 2).cast("long") - spec.SESSION_BASE) / spec.SESSION_STEP
    seq = F.regexp_extract("envelope", key, 3).cast("long")
    return F.pmod(dnum + seq + F.lit(3) * sidx.cast("long"), F.lit(10)) == 0


def _malformed(spark: SparkSession, n: int) -> DataFrame:
    """``n`` malformed envelopes in each arrival batch."""
    return spark.range(2 * n).select(
        F.format_string("corrupt%07d.bin", F.col("id")).alias("envelope"),
        F.array().cast("array<int>").alias("chunk_tokens"),
        F.lit("src1").alias("source"),
        F.when(F.col("id") < n, "base").otherwise("late").alias("arrival"),
    )


def generate(spark: SparkSession, wl: Workload, seed: int, corpus: str) -> None:
    """Write the workload's parquet inputs under ``corpus``, plus the routes
    dimension for every source the generator can emit. A resume corpus is
    one write partitioned by ``arrival``: the on-time chunks under
    ``arrival=base``, the late ones under ``arrival=late``."""
    chunks = _synth(spark, wl.shape, seed)
    if wl.resume:
        arrival = F.when(late_col(), "late").otherwise("base")
        chunks.withColumn("arrival", arrival).unionByName(_malformed(spark, wl.n_bad)).write.partitionBy(
            "arrival"
        ).parquet(f"{corpus}/chunks")
    else:
        chunks.write.parquet(f"{corpus}/chunks")
    sources = spark.createDataFrame([(f"src{k}",) for k in range(wl.shape.n_sources)], "source string")
    chunker.routes_table(sources).write.parquet(f"{corpus}/routes")


def routed_totals(source) -> dict:
    """Per-sink ``n_rows``, ``sum_n_tok``, ``n_docs`` and sum of every token
    of routed rows, read straight from their parquet files with pyarrow:
    ``source`` is a ``sink=``-partitioned directory or a list of files."""
    table = ds.dataset(source, format="parquet", partitioning="hive").to_table(
        columns=["sink", "doc_id", "n_tok", "tokens"]
    )
    sinks = pc.cast(table["sink"], pa.string())
    out = {}
    for sink in sorted(pc.unique(sinks).to_pylist()):
        rows = table.filter(pc.equal(sinks, sink))
        out[sink] = {
            "n_rows": rows.num_rows,
            "sum_n_tok": pc.sum(rows["n_tok"]).as_py(),
            "n_docs": pc.count_distinct(rows["doc_id"]).as_py(),
            "tok_sum": pc.sum(pc.list_flatten(rows["tokens"])).as_py(),
        }
    return out


class BatchRun:
    """parse → reassemble → enrich (``run_pipeline``), the per-sink write
    (``route_write``), then ``sink_counts`` over the routed output read back."""

    WARM_UP_PASSES = 4  # CPU per pass, less the JIT's, still falls ~15% from pass 3 to 7
    MIN_PASSES = 5  # measured passes, however long they take

    def __init__(self, spark: SparkSession, corpus: str, work: str) -> None:
        self.spark = spark
        self.corpus = corpus
        self.out = os.path.join(work, "routed")

    def load(self) -> None:
        """Read the inputs in the current session."""
        self.chunks = self.spark.read.parquet(f"{self.corpus}/chunks")
        self.routes = self.spark.read.parquet(f"{self.corpus}/routes")

    register = load

    def prepare(self) -> None:
        pass

    def run(self, span) -> list:
        with span("plan"):
            res = run_pipeline(self.chunks, self.routes)
            route_write(res.enriched, self.out)
        with span("aggregate"):
            return sink_counts(self.spark.read.parquet(self.out)).collect()

    def observed(self, counts) -> dict:
        return {
            "counts": {r["sink"]: {k: r[k] for k in ("n_rows", "sum_n_tok", "n_docs")} for r in counts},
            "sinks": routed_totals(self.out),
        }


class ResumeRun:
    """One ``run_job`` pass over the late chunks appended to a chunks table
    whose on-time chunks a first pass already processed. Every pass starts
    from the same saved post-first-pass state. The first pass, run while
    registering, warms up most of the same code."""

    WARM_UP_PASSES = 1
    MIN_PASSES = 3

    def __init__(self, spark: SparkSession, corpus: str, work: str) -> None:
        self.spark = spark
        self.corpus = corpus
        self.live = os.path.join(work, "live")
        self.saved = os.path.join(work, "saved")
        self.chunks_table = SnapshotTable(os.path.join(self.live, "chunks"))
        self.state = JobState(os.path.join(self.live, "state"))

    def load(self) -> None:
        """Read the inputs in the current session."""
        self.routes = self.spark.read.parquet(f"{self.corpus}/routes")
        self.late = self.spark.read.parquet(f"{self.corpus}/chunks/arrival=late")

    def register(self) -> None:
        """Commit the on-time chunks and run the first pass from scratch."""
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.rmtree(self.saved, ignore_errors=True)
        self.load()
        self.chunks_table.commit(self.spark.read.parquet(f"{self.corpus}/chunks/arrival=base"))
        run_job(self.spark, self.chunks_table, self.routes, self.state)
        shutil.copytree(self.live, self.saved)

    def prepare(self) -> None:
        """Back to the post-first-pass state, then append the late chunks."""
        shutil.rmtree(self.live)
        shutil.copytree(self.saved, self.live)
        self.snap = self.chunks_table.commit(self.late)

    def run(self, span) -> dict:
        with span("job"):
            return run_job(self.spark, self.chunks_table, self.routes, self.state)

    def observed(self, summary) -> dict:
        """What the pass returned, and what it committed, read from the
        state group's manifest and parquet files without Spark."""
        group = self.state.group
        with open(os.path.join(group.root, "manifests", f"snap-{group.current_snapshot():08d}.json")) as f:
            tables = json.load(f)["tables"]

        def rows(name: str, files: str) -> int:
            return sum(pq.ParquetFile(p).metadata.num_rows for p in tables[name][files])

        return {
            "counts": summary["sink_counts"],
            "sinks": routed_totals(tables["routed"]["added_files"]),
            "held": rows("held", "files"),
            "rejects": rows("rejects", "added_files"),
        }
