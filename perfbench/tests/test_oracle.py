"""The closed-form oracle against the program, on tiny inputs of each
workload's shape."""

from contextlib import nullcontext
from dataclasses import replace

import numpy as np
import pytest
from pyspark.sql import functions as F

from log_aggregator_spark.operators.parse import split_rejects
from log_aggregator_spark.operators.reassemble import held_back
from oracle import xxhash64
from workloads import WORKLOADS, BatchRun, ResumeRun, generate


def tiny(name, n_docs):
    wl = WORKLOADS[name]
    return replace(wl, shape=replace(wl.shape, n_docs=n_docs))


def no_span(name):
    return nullcontext()


def test_xxhash64_matches_spark(spark):
    ids = np.array([0, 1, 2, 12345, 2**40 + 7], dtype=np.int64)
    got = spark.createDataFrame([(int(i),) for i in ids], "id long").select(
        F.xxhash64("id", F.lit(7), F.lit(1)).alias("h")
    ).collect()
    assert xxhash64(ids, 7, 1).tolist() == [r["h"] for r in got]


@pytest.mark.parametrize("seed", [0, 7])
def test_batch_oracle_matches_pipeline(spark, tmp_path, seed):
    wl = tiny("batch_small_chunks", 400)
    generate(spark, wl, seed, str(tmp_path / "corpus"))
    bench = BatchRun(spark, str(tmp_path / "corpus"), str(tmp_path))
    bench.register()
    bench.prepare()
    observed = bench.observed(bench.run(no_span))
    expected = wl.expected(seed)
    assert observed["sinks"] == expected["sinks"]
    parsed, _ = split_rejects(bench.chunks)
    assert held_back(parsed).count() == expected["held"]


@pytest.mark.parametrize("seed", [0, 7])
def test_resume_oracle_matches_run_job(spark, tmp_path, seed):
    wl = tiny("resume_two_pass", 1000)  # large enough that both seeds hold chunks back
    generate(spark, wl, seed, str(tmp_path / "corpus"))
    bench = ResumeRun(spark, str(tmp_path / "corpus"), str(tmp_path))
    bench.register()
    expected = wl.expected(seed)
    assert expected["held"] > 0 and expected["rejects"] > 0
    for _ in range(2):  # the second pass starts from the restored state
        bench.prepare()
        assert bench.observed(bench.run(no_span)) == expected


def test_a_wrong_pass_is_caught(spark, tmp_path):
    """Dropping one routed row must make the batch check fail."""
    wl = tiny("batch_small_chunks", 200)
    generate(spark, wl, 1, str(tmp_path / "corpus"))
    bench = BatchRun(spark, str(tmp_path / "corpus"), str(tmp_path))
    bench.register()
    bench.run(no_span)
    routed = spark.read.parquet(bench.out)
    first = routed.select("doc_id", "session").orderBy("doc_id", "session").first()
    (
        routed.where((F.col("doc_id") != first["doc_id"]) | (F.col("session") != first["session"]))
        .write.mode("overwrite").partitionBy("sink").parquet(str(tmp_path / "short"))
    )
    bench.out = str(tmp_path / "short")
    from log_aggregator_spark.operators.aggregate import sink_counts

    counts = sink_counts(spark.read.parquet(bench.out)).collect()
    assert bench.observed(counts)["sinks"] != wl.expected(1)["sinks"]
