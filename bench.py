#!/usr/bin/env python
"""Benchmark harness.

Default mode (driver contract): run the headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``--scaling`` mode (north-rule evidence): run the identical pipeline job at
two parallelism levels (default local[8] vs local[32] — the sandbox stand-in
for N vs 4N executors) on the same pre-materialized chunk input, report
sequences/sec at both + scaling efficiency, and write BENCH/BASELINE.md.

The measured job is parse → gate/reassemble → enrich → aggregate (+ optional
fan-out write): it reads a pre-materialized chunks parquet so chunk derivation
is NOT in the measured path — at real scale the chunk table IS the stored
input (north rule: Iceberg table of pre-tokenized sequences).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def materialize_chunks(spark, sf_dir: str, multiplier: int, out_dir: str) -> str:
    """Derive the chunk table (with perturbations) once and write parquet.
    multiplier M > 1 replicates each doc M times under distinct doc ids —
    used to make the scaling runs compute-bound rather than overhead-bound."""
    from pyspark.sql import functions as F

    from log_aggregator_spark import chunker

    path = os.path.join(out_dir, f"chunks_m{multiplier}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if multiplier > 1:
        docs = docs.withColumn(
            "rep", F.explode(F.sequence(F.lit(0), F.lit(multiplier - 1)))
        ).select(
            (F.col("doc_id") * multiplier + F.col("rep")).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    # enough files that both parallelism levels get full scan parallelism
    # (analog of a well-bucketed Iceberg table at real scale)
    chunker.chunks(docs).repartition(256).write.mode("overwrite").parquet(path)
    open(done, "w").close()
    return path


def materialize_synth(spark, n_docs: int, out_dir: str, files: int = 512) -> tuple[str, str]:
    """One-time generation of the deterministic synthetic scale corpus
    (chunker.synth_chunks) + its routes dimension table. Not measured."""
    from pyspark.sql import functions as F

    from log_aggregator_spark import chunker

    path = os.path.join(out_dir, f"synth_{n_docs}")
    routes_path = os.path.join(out_dir, f"synth_{n_docs}_routes")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path, routes_path
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(routes_path, ignore_errors=True)
    ch = chunker.synth_chunks(spark, n_docs)
    ch.repartition(files).write.mode("overwrite").parquet(path)
    chunks = spark.read.parquet(path)
    chunker.routes_table(chunks.select("source")).write.mode("overwrite").parquet(routes_path)
    open(done, "w").close()
    return path, routes_path


def materialize_dedup_synth(spark, n_docs: int, out_dir: str, files: int = 256) -> str:
    """One-time generation of the deterministic SKEWED dedup corpus:

    * 20% of docs are byte-identical copies of one hot template — the giant
      exact-dup cluster (worst-case key for naive pair generation; its
      shingles blow past DF_CAP, exactly as a hot boilerplate does at 100 TB);
    * the rest form 4-doc near-dup clusters sharing 24 of 26 words (rare
      shingles → survive the df cap and exercise the MinHash-LSH path;
      within-cluster Jaccard ≈ 0.85).

    All structure derives from the doc id — no rand(), so both parallelism
    levels and every repeat read the identical corpus."""
    from pyspark.sql import functions as F

    path = os.path.join(out_dir, f"dedup_synth_{n_docs}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    hot_n = n_docs // 5
    gid = F.floor((F.col("id") - hot_n) / 4).cast("long")
    shared = [
        F.concat(
            F.lit("w"),
            F.pmod(F.hash(gid, F.lit(i)), F.lit(1_000_000)).cast("string"),
        )
        for i in range(24)
    ]
    uniq = [
        F.concat(F.lit("u"), F.col("id").cast("string"), F.lit(f"x{j}"))
        for j in range(2)
    ]
    hot_text = " ".join(f"hot{i}" for i in range(26))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < hot_n, F.lit(hot_text))
        .otherwise(F.concat_ws(" ", *shared, *uniq))
        .alias("text"),
    )
    docs.repartition(files).write.mode("overwrite").parquet(path)
    open(done, "w").close()
    return path


def materialize_sim_synth(spark, n_vecs: int, out_dir: str, files: int = 256) -> str:
    """One-time generation of the deterministic near-dup EMBEDDING corpus
    for the similarity-family scaling run: 4-vector groups share a
    hash-derived base direction, each member adds a small per-vector
    perturbation — within-group cosine ≈ 0.9996 (well above the bench
    tau), cross-group ≈ 0 ± 0.13 (64 iid dims). All structure derives
    from the vec id via F.hash — no rand(), so every parallelism level
    and repeat reads the identical corpus."""
    from pyspark.sql import functions as F

    path = os.path.join(out_dir, f"sim_synth_{n_vecs}")
    done = os.path.join(path, "_DONE")
    if os.path.exists(done):
        return path
    shutil.rmtree(path, ignore_errors=True)
    gid = F.floor(F.col("id") / 4).cast("long")
    dims = [
        F.hash(gid, F.lit(i)).cast("double") / 2147483648.0
        + (F.hash(F.col("id"), F.lit(i), F.lit(7)).cast("double") / 2147483648.0)
        * 0.02
        for i in range(64)
    ]
    vecs = spark.range(n_vecs).select(
        F.col("id").alias("vec_id"), F.array(*dims).alias("embedding")
    )
    vecs.repartition(files).write.mode("overwrite").parquet(path)
    open(done, "w").close()
    return path


def run_sim_job(
    spark, emb_path: str, tau: float, bits_per_band: int, n_bands: int = 12
) -> dict:
    """One measured similarity-family pass in the deployment shape from
    README's operational map, over the grouped synth embeddings:

    * index build — ``scaled_lsh_signature`` (corpus-sized buckets,
      bits_per_band ≈ log2(n); one Arrow matmul per batch, zero
      shuffle), materialized once (``localCheckpoint`` stands in for the
      stored signature table; the count forces + reports it);
    * pair generation — ``scaled_lsh_pairs`` over the stored index:
      ids-only (band, bucket) equi-join, exact-cosine verify on the
      candidates only, reduced by a checksum aggregate so every verified
      pair is computed but nothing wide is collected.

    The per-phase split (sig_sec vs pairs_sec) attributes any scaling
    floor to the embarrassingly-parallel scan vs the pair shuffle."""
    from pyspark.sql import functions as F

    from log_aggregator_spark.functions import similarity as fsim
    from log_aggregator_spark.session import persistent_rdd_ids, unpersist_rdds

    pinned_before = persistent_rdd_ids(spark)
    emb = spark.read.parquet(emb_path)
    t0 = time.perf_counter()
    sig = fsim.scaled_lsh_signature(
        emb, n_bands=n_bands, bits_per_band=bits_per_band
    ).localCheckpoint()
    n_sig = sig.count()
    t1 = time.perf_counter()
    row = (
        fsim.scaled_lsh_pairs(
            emb, tau, n_bands=n_bands, bits_per_band=bits_per_band,
            signature_df=sig,
        )
        .agg(
            F.count("*").alias("n_pairs"),
            # order-independent WIDE digest: each pair contributes a full
            # 32-bit murmur3 word, so a pair-content regression cannot
            # collide with the correct value the way the old
            # pmod(a*31+b, 997) sum (<10 bits/pair) could
            F.sum(F.hash("vec_a", "vec_b").cast("long")).alias("checksum"),
            F.sum("n_bands").alias("band_hits"),
        )
        .collect()[0]
    )
    t2 = time.perf_counter()
    # scoped: free only what THIS pass pinned, so the helper stays safe
    # if run_sim_job is ever reused inside a session that holds pins
    unpersist_rdds(spark, exclude=pinned_before)
    # Shuffle files live in spark.local.dir (tmpfs in the scaling
    # harness) until ContextCleaner notices the dereferenced shuffle
    # dependencies — by default at a 30-minute periodic GC, far beyond a
    # bench pass. At 4M vectors each pass leaves ~15 GB; warm-up + 2
    # measured passes + five JVM heaps then overrun the box (measured: the
    # first 4M exec_4 attempt OOM-killed the driver). Drop the Python
    # refs and force one driver GC so the cleaner reclaims this pass's
    # shuffles NOW — outside the timed section, the same eager-cleanup
    # discipline unpersist_rdds applies to checkpoint blocks.
    import gc

    del sig, emb
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(3)  # cleaner runs async; give it a beat before the next pass
    return {
        "sec": t2 - t0,
        "sig_sec": round(t1 - t0, 3),
        "pairs_sec": round(t2 - t1, 3),
        "n_sig_rows": n_sig,
        "n_pairs": row["n_pairs"],
        # SUM over an empty pair set is NULL (e.g. a tau above the
        # corpus's max cosine): report zeros, don't crash on int(None)
        "band_hits": int(row["band_hits"] or 0),
        "checksum": int(row["checksum"] or 0),
    }


def run_dedup_job(
    spark,
    docs_path: str,
    cc_endgame_cap: int | None = None,
    edge_families: tuple[str, ...] = ("exact", "minhash"),
) -> dict:
    """One measured dedup-family pass over the skewed corpus, in the
    deployment shape from README's operational map — every full-corpus
    intermediate computed ONCE:

    * pair graph — capped shingles → minhash signatures → banded candidate
      join, unioned with the exact-dup star edges, materialized once
      (``localCheckpoint`` here stands in for the stored pairs table a
      deployment keeps; the count forces + reports the full lattice);
    * CC — ``components`` over that stored graph (iterative min-label with
      contraction), reduced by a checksum aggregate so every label is
      computed but nothing wide is collected.

    The 16-bit simhash family is excluded by policy: its 2^16 value space
    saturates past ~10^5 docs, hamming≤3 then connects the whole value
    space and CC degenerates to one giant component — a well-defined but
    adversarial workload, recorded once as a CC stress test in
    BENCH/BASELINE.md, not the shape a deployment runs daily (see
    ``dedup.duplicate_clusters`` docstring).

    ``cc_endgame_cap``: forwarded to ``components`` (``--cc-endgame-cap``
    on the CLI); pass 0 to force the pure iterative CC — the form the
    committed stress record was measured in — instead of the production
    small-graph endgame. None = library default.

    ``edge_families``: which pair generators contribute edges
    (``--dedup-edge-families`` on the CLI). The committed stress record =
    ``exact,minhash,simhash`` + ``--cc-endgame-cap 0`` (the saturated
    simhash family collapses the corpus to one giant component, making CC
    itself the measured workload).
    """
    from pyspark.sql import functions as F

    from log_aggregator_spark.functions import dedup as fdedup
    from log_aggregator_spark.session import persistent_rdd_ids, unpersist_rdds

    pinned_before = persistent_rdd_ids(spark)
    docs = spark.read.parquet(docs_path)
    t0 = time.perf_counter()
    pairs = fdedup.all_near_dup_pairs(
        docs, edge_families=edge_families
    ).localCheckpoint()
    n_pairs = pairs.count()
    t1 = time.perf_counter()
    cap = fdedup.ENDGAME_EDGE_CAP if cc_endgame_cap is None else cc_endgame_cap
    row = (
        fdedup.components(pairs, docs.select("doc_id"), endgame_cap=cap)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            # wide order-independent digest (see run_sim_job): a label
            # regression can't collide the way sum(cluster_id % 997) could
            F.sum(F.hash("doc_id", "cluster_id").cast("long")).alias("checksum"),
        )
        .collect()[0]
    )
    t2 = time.perf_counter()
    # Free every checkpoint this pass pinned (components() localCheckpoints
    # edges/labels each round; ContextCleaner reclaims them only after Py4J
    # GC, which lags). Without this, warm-up + repeated measured runs
    # accumulate storage and each run is slower than the last — measured
    # [160.9, 194.0] at local[8] — so the min-of-N discipline breaks.
    # Scoped to this pass's pins (see run_sim_job).
    unpersist_rdds(spark, exclude=pinned_before)
    return {
        "sec": t2 - t0,
        "pairs_sec": round(t1 - t0, 3),
        "cc_sec": round(t2 - t1, 3),
        "n_docs": row["n_docs"],
        "n_pairs": n_pairs,
        "n_clusters": row["n_clusters"],
        "checksum": int(row["checksum"]),
    }


def run_stream_dedup_job(
    spark, docs_path: str, run_dir: str, n_batches: int
) -> dict:
    """One measured STREAMING dedup drain: the real Structured Streaming
    foreachBatch fold (``streaming.stream_dedup``) over the skewed synth
    corpus split into ``n_batches`` micro-batches via maxFilesPerTrigger,
    with a fresh state group + checkpoint per run. Measures the full
    service — per-batch index probes against the GROWING stored tables,
    delta cluster maintenance, atomic TableGroup commits — not just the
    kernels. The per-doc frozen recipe (no df-cap) is safe on this corpus
    by construction: the hot template is byte-identical (one canonical
    carries its shingles), and near-group shingles are group-local."""
    import glob as _glob

    from pyspark.sql import functions as F

    from log_aggregator_spark.session import persistent_rdd_ids, unpersist_rdds
    from log_aggregator_spark.streaming.stream_dedup import (
        read_clusters, stream_dedup,
    )
    from log_aggregator_spark.tableio import TableGroup

    pinned_before = persistent_rdd_ids(spark)
    shutil.rmtree(run_dir, ignore_errors=True)
    state_root = os.path.join(run_dir, "state")
    ckpt = os.path.join(run_dir, "ckpt")
    n_files = len(_glob.glob(os.path.join(docs_path, "part-*")))
    per_trigger = max(1, (n_files + n_batches - 1) // n_batches)
    t0 = time.perf_counter()
    q = (
        stream_dedup(
            spark, docs_path, state_root,
            max_files_per_trigger=per_trigger,
            schema="doc_id long, text string",
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    t1 = time.perf_counter()
    group = TableGroup(state_root)
    row = (
        read_clusters(spark, group)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
            # wide order-independent digest (see run_sim_job)
            F.sum(F.hash("doc_id", "cluster_id").cast("long")).alias("checksum"),
        )
        .collect()[0]
    )
    n_remap = group.table("label_remap").read(spark).count()
    unpersist_rdds(spark, exclude=pinned_before)
    return {
        "sec": t1 - t0,
        "n_batches": int(group.current_snapshot() or 0),
        "files_per_trigger": per_trigger,
        "n_docs": row["n_docs"],
        "n_clusters": row["n_clusters"],
        "checksum": int(row["checksum"]),
        "n_remap_rows": int(n_remap),
    }


def shm_or(workdir: str, sub: str) -> str:
    """Prefer tmpfs for shuffle/local dirs and measured sink output — the
    sandbox stand-in for the per-executor local NVMe + distributed sink a
    real cluster has (a single shared VM disk serializes what per-node disks
    parallelize; see BENCH/BASELINE.md)."""
    base = "/dev/shm/la_bench" if os.access("/dev/shm", os.W_OK) else workdir
    path = os.path.join(base, sub)
    os.makedirs(path, exist_ok=True)
    return path


def run_pipeline_job(spark, chunks_path: str, write_out: str | None = None,
                     routes_path: str | None = None) -> dict:
    """One end-to-end measured run: parse → gate/reassemble → enrich →
    route (fan-out write when write_out given) → aggregate.
    Returns timings + row counts."""
    from log_aggregator_spark import chunker
    from log_aggregator_spark.plans.pipeline import run_pipeline
    from pyspark.sql import functions as F

    if routes_path is not None:
        routes = spark.read.parquet(routes_path)
    else:
        docs = spark.read.parquet(
            os.path.join(os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
                         "documents.parquet")
        )
        routes = chunker.routes_table(docs.select("source"))
    chunks = spark.read.parquet(chunks_path)

    t0 = time.perf_counter()
    res = run_pipeline(chunks, routes, checkpoint=None)
    sec_write = None
    if write_out is not None:
        # fan-out write IS the routed sink; aggregates then scan the routed
        # output (cheap, column-pruned) instead of recomputing the pipeline.
        shutil.rmtree(write_out, ignore_errors=True)
        from log_aggregator_spark.operators.route import route_write

        route_write(res.enriched, write_out)
        # phase split: the write job runs parse→gate→enrich→fan-out (all
        # the pipeline compute); the aggregate job is a fresh column-pruned
        # scan of the routed parquet. Recording them separately lets the
        # N-vs-4N record attribute (non-)scaling to a phase instead of to
        # the job as a whole.
        sec_write = time.perf_counter() - t0
        routed = spark.read.parquet(write_out)
        rows = (
            routed.groupBy("sink")
            .agg(F.count("*").alias("n_rows"), F.sum("n_tok").alias("sum_n_tok"))
            .collect()
        )
    else:
        rows = res.counts.collect()
    elapsed = time.perf_counter() - t0
    n_streams = sum(r["n_rows"] for r in rows)
    n_tok = sum(r["sum_n_tok"] for r in rows)
    out = {"sec": elapsed, "streams": n_streams, "tokens": n_tok}
    if sec_write is not None:
        out["sec_write"] = round(sec_write, 3)
        out["sec_agg"] = round(elapsed - sec_write, 3)
    return out


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    """Headline per-query timings at the driver's sf (driver contract)."""
    from log_aggregator_spark.entry_queries import QUERIES

    out: dict[str, float] = {}
    for name, fn in QUERIES.items():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def _compact_t(t: float):
    """Driver-line timing: 0.1 s resolution under 10 s, whole seconds at
    10 s and above — bounds every value at ≤3 chars (sub-100 s) so the
    one-line record scales past 80 queries. The round-first check keeps
    the 9.97→10.0 edge from emitting a 4-char float."""
    r = round(t, 1)
    return r if r < 10 else int(round(t))


def lc_master(n_exec: int, cores_per: int = 4, mem_mb: int = 6144) -> str:
    """True multi-executor local simulation: each executor is its own JVM
    with its own heap, GC, python workers, and shuffle files — the faithful
    sandbox form of 'N executors' (the driver's pinned-local[N] form remains
    as the secondary pair)."""
    return f"local-cluster[{n_exec},{cores_per},{mem_mb}]"


def main_default(args) -> None:
    from log_aggregator_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = args.cores or os.environ.get("SPARK_GRAFT_CPUS", "32")

    tmp = args.workdir
    os.makedirs(tmp, exist_ok=True)
    if args.synth_docs:
        # scale corpus path (used by --scaling subprocesses): tmpfs local
        # dirs + sink, full-size warm-up (JIT at real batch sizes), median
        # of 3 measured runs — measurement discipline for the scaling
        # evidence.
        if args.lc_executors:
            os.environ.setdefault("SPARK_HOME", "/opt/spark")
            cores = lc_master(args.lc_executors, mem_mb=args.lc_mem_mb)
            spark = get_spark(
                "bench", cores=cores,
                shuffle_partitions=args.shuffle_partitions or 32,
                extra_conf={
                    "spark.local.dir": shm_or(tmp, f"lc_{args.lc_executors}"),
                    "spark.executorEnv.PYTHONPATH": REPO,
                },
            )
        else:
            spark = get_spark(
                "bench", cores=cores,
                shuffle_partitions=args.shuffle_partitions,
                extra_conf={"spark.local.dir": shm_or(tmp, f"local_{cores}")},
            )
        chunks_path, routes_path = materialize_synth(spark, args.synth_docs, tmp)
        # tag must be glob-safe: the local-cluster master string carries []
        tag = f"exec{args.lc_executors}" if args.lc_executors else str(cores)
        out = shm_or(tmp, f"routed_out_{tag}")
        run_pipeline_job(spark, chunks_path, routes_path=routes_path,
                         write_out=out)
        runs = sorted(
            (run_pipeline_job(spark, chunks_path, routes_path=routes_path,
                              write_out=out)
             for _ in range(4)),
            key=lambda r: r["sec"],
        )
        # min of 4: run-to-run jitter (GC timing, VM scheduling) is strictly
        # additive noise, so the fastest run is the least-contaminated
        # estimate of the job's cost — the standard benchmarking statistic.
        e2e = dict(runs[0])
        e2e["all_runs_sec"] = [r["sec"] for r in runs]
        shutil.rmtree(out, ignore_errors=True)
    else:
        spark = get_spark("bench", cores=cores)
        chunks_path = materialize_chunks(spark, sf_dir, args.multiplier, tmp)
        # warm-up (JIT/codegen/broadcast) then measured run
        run_pipeline_job(spark, chunks_path)
        e2e = run_pipeline_job(spark, chunks_path,
                               write_out=os.path.join(tmp, "routed_out"))
    queries = bench_queries(spark, sf_dir) if not args.skip_queries else {}
    queries["pipeline_e2e"] = round(e2e["sec"], 3)

    # bench continuity: report per-query delta vs the latest recorded round
    # so regressions are visible in the round-over-round record.
    prev_file, prev_queries = None, {}
    import glob as _glob

    rounds = sorted(_glob.glob(os.path.join(REPO, "BENCH_r*.json")))
    if rounds:
        prev_file = os.path.basename(rounds[-1])
        try:
            with open(rounds[-1]) as f:
                prev = json.load(f)
            # the driver wraps bench.py's JSON line under "parsed"
            prev_queries = (
                prev.get("queries")
                or (prev.get("parsed") or {}).get("queries")
                or {}
            )
        except (OSError, json.JSONDecodeError):
            prev_queries = {}
    delta_pct = {
        q: round(100.0 * (t / prev_queries[q] - 1), 1)
        for q, t in queries.items()
        if prev_queries.get(q)
    }

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    result = {
        "metric": "pipeline_e2e_sec",
        "value": round(e2e["sec"], 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        "streams": e2e["streams"],
        "tokens": e2e["tokens"],
        "seq_per_sec": round(e2e["streams"] / e2e["sec"], 1),
        "all_runs_sec": e2e.get("all_runs_sec"),
        "sec_write": e2e.get("sec_write"),
        "sec_agg": e2e.get("sec_agg"),
        "cores": str(cores),
        "multiplier": args.multiplier,
        "synth_docs": args.synth_docs,
        "prev_round": prev_file,
        "delta_pct_vs_prev": delta_pct,
    }
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(result, f)
    # The driver captures only the LAST 2000 chars of stdout and json-parses
    # that window; round 2's line outgrew it (delta_pct_vs_prev pushed it
    # past 2000 → BENCH_r02.json parsed=null). Print a compact line that is
    # guaranteed to fit and park the full record (deltas, run list) in
    # BENCH_LOCAL.json for the round-over-round record.
    if not args.json_out:  # scaling subprocesses must not clobber the record
        with open(os.path.join(REPO, "BENCH_LOCAL.json"), "w") as f:
            json.dump(result, f, indent=1)
    compact = {
        "metric": "pipeline_e2e_sec",
        "value": result["value"],
        "unit": "sec",
        # 0.1 s resolution below 10 s, whole seconds above: keeps the line
        # inside the driver's 2000-char window at ~80 queries; full
        # precision (plus streams/tokens and the run list) is in
        # BENCH_LOCAL.json
        "queries": {q: _compact_t(t) for q, t in queries.items()},
        "sf": sf,
        "seq_per_sec": result["seq_per_sec"],
    }
    line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:
        # graceful degrade: keep the slowest 40 with full keys, fold the
        # tail into one labeled sum — never a silently-null driver parse
        named = {q: t for q, t in queries.items() if q != "pipeline_e2e"}
        top = dict(sorted(named.items(), key=lambda kv: -kv[1])[:40])
        top["_other_sum"] = round(
            sum(t for q, t in named.items() if q not in top), 1)
        top["pipeline_e2e"] = queries["pipeline_e2e"]
        compact["queries"] = {q: _compact_t(t) for q, t in top.items()}
        line = json.dumps(compact, separators=(",", ":"))
    if len(line) > 1950:  # belt-and-braces: headline only
        compact["queries"] = {"pipeline_e2e": result["value"]}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


def _pinned_subprocess(
    mode_args: list[str], pin_cores: int, workdir: str, prefix: str, tag: str
) -> dict:
    """Launch one pinned bench subprocess and read back its JSON result —
    THE shared launch recipe for every scaling pair (e2e pipeline, batch
    dedup, streaming dedup).

    ``taskset`` pins the WHOLE process tree (JVM GC/JIT threads, Python
    workers, page-cache readahead) to ``pin_cores`` CPUs — without it a
    local[N] run borrows the other 32-N cores via JVM service threads and
    the N-vs-4N comparison stops modeling an N-core cluster. Same
    (generous) heap at every level: local mode packs all tasks into one
    JVM, and an 8g default heap makes the high-core run GC-bound — a
    single-box artifact, not a cluster property (executors have their own
    heaps). One retry absorbs the rare transient python-worker crash at
    high parallelism."""
    os.makedirs(workdir, exist_ok=True)
    json_out = os.path.join(workdir, f"{prefix}_{tag}.json")
    cmd = [sys.executable, __file__] + mode_args + ["--json-out", json_out]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{pin_cores - 1}"] + cmd
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    log = os.path.join(workdir, f"{prefix}_{tag}.log")
    for attempt in (1, 2):
        with open(log, "w") as lf:
            r = subprocess.run(cmd, env=env, stdout=lf, stderr=subprocess.STDOUT)
        if r.returncode == 0:
            break
        if attempt == 2:
            raise RuntimeError(f"{prefix} subprocess failed twice; see {log}")
    with open(json_out) as f:
        return json.load(f)


def _run_pinned(cores: int, args, lc_executors: int = 0) -> dict:
    """One e2e bench subprocess restricted to exactly ``cores`` CPUs. For
    executor mode (``lc_executors``) the pin budget is 4 cores per
    executor + 1 for the driver (a real cluster's driver node is likewise
    outside the executor allocation)."""
    tag = f"exec_{lc_executors}" if lc_executors else str(cores)
    mode = [
        "--multiplier", str(args.multiplier),
        "--synth-docs", str(args.synth_docs),
        "--workdir", args.workdir,
        "--skip-queries",
    ]
    # forward the memory-shape knobs — an 8M-doc run at the 32-partition
    # default OOMs a 6g executor (partitions must shrink to fit the heap)
    if args.shuffle_partitions:
        mode += ["--shuffle-partitions", str(args.shuffle_partitions)]
    if lc_executors:
        mode += ["--lc-executors", str(lc_executors),
                 "--lc-mem-mb", str(args.lc_mem_mb)]
        pin_cores = 4 * lc_executors + 1
    else:
        mode += ["--cores", str(cores)]
        pin_cores = cores
    return _pinned_subprocess(mode, pin_cores, args.workdir, "scaling", tag)


def main_scaling(args) -> None:
    """North-rule evidence, two forms:

    1. PRIMARY — executor scaling: local-cluster[1,4,6g] vs
       local-cluster[4,4,6g], pinned. Each executor is a real separate JVM
       (own heap/GC/python workers, actual inter-executor shuffle) — the
       faithful sandbox reading of "N vs 4N executors".
    2. SECONDARY — pinned single-JVM local[N] vs local[4N] (default 8 vs
       32, the driver's example pair).
    """
    if args.skip_local_pair and args.skip_executor_pair:
        raise SystemExit(
            "--skip-local-pair and --skip-executor-pair together leave "
            "nothing to measure"
        )
    summaries = []

    def eff_summary(lo_res, hi_res, lo_label, hi_label, ratio):
        thru_lo, thru_hi = lo_res["seq_per_sec"], hi_res["seq_per_sec"]
        out = {
            "metric": "scaling_efficiency",
            "value": round((thru_hi / thru_lo) / ratio, 3),
            "unit": "ratio",
            "n_cores": lo_label,
            "n4_cores": hi_label,
            "seq_per_sec_n": thru_lo,
            "seq_per_sec_4n": thru_hi,
            "sec_n": lo_res["value"],
            "sec_4n": hi_res["value"],
            "streams": lo_res["streams"],
            "multiplier": args.multiplier,
            "synth_docs": args.synth_docs,
        }
        # per-phase efficiency: which phase carried the non-scaling floor
        # (compute+write job vs the post-hoc aggregate scan)
        if lo_res.get("sec_write") and hi_res.get("sec_write"):
            out["write_eff"] = round(
                (lo_res["sec_write"] / hi_res["sec_write"]) / ratio, 3)
            out["sec_write_n"] = lo_res["sec_write"]
            out["sec_write_4n"] = hi_res["sec_write"]
        if lo_res.get("sec_agg") and hi_res.get("sec_agg"):
            out["agg_eff"] = round(
                (lo_res["sec_agg"] / hi_res["sec_agg"]) / ratio, 3)
            out["sec_agg_n"] = lo_res["sec_agg"]
            out["sec_agg_4n"] = hi_res["sec_agg"]
        return out

    # pre-materialize the synth corpus UNPINNED in a full-size local JVM:
    # generating 8M docs inside a single pinned 6 GB executor OOMs before
    # the measurement even starts (the cached corpus is reused by every
    # pinned subprocess via the _DONE marker)
    os.makedirs(args.workdir, exist_ok=True)
    if not os.path.exists(
        os.path.join(args.workdir, f"synth_{args.synth_docs}", "_DONE")
    ):
        from log_aggregator_spark.session import get_spark

        spark = get_spark(
            "bench-materialize", cores="*",
            extra_conf={"spark.local.dir": shm_or(args.workdir, "mat")},
        )
        materialize_synth(spark, args.synth_docs, args.workdir)
        spark.stop()

    if not args.skip_executor_pair:
        lo = _run_pinned(0, args, lc_executors=1)
        hi = _run_pinned(0, args, lc_executors=4)
        summaries.append(eff_summary(
            lo, hi, "1 executor (4 cores)", "4 executors (4 cores each)", 4.0))

    pairs = [] if args.skip_local_pair else [(args.n, args.n * 4)]
    if args.also_4x16 and args.n != 4:
        pairs.append((4, 16))
    results: dict[int, dict] = {}
    for lo_c, hi_c in pairs:
        for cores in (lo_c, hi_c):
            if cores not in results:
                results[cores] = _run_pinned(cores, args)
        summaries.append(eff_summary(
            results[lo_c], results[hi_c],
            f"local[{lo_c}]", f"local[{hi_c}]", hi_c / lo_c))

    print(json.dumps(summaries[0]))
    _write_bench_md(summaries)


def main_dedup(args) -> None:
    """Inner (pinned-subprocess) dedup measurement at one parallelism
    level: warm-up pass, then min of --dedup-runs measured passes."""
    from log_aggregator_spark.session import get_spark

    if args.lc_executors:
        # true multi-executor form: each executor its own JVM (same
        # discipline as the pipeline scaling path's executor pair)
        os.environ.setdefault("SPARK_HOME", "/opt/spark")
        tag = f"exec_{args.lc_executors}"
        spark = get_spark(
            "bench-dedup", cores=lc_master(args.lc_executors,
                                           mem_mb=args.lc_mem_mb),
            shuffle_partitions=args.shuffle_partitions or 32,
            extra_conf={
                "spark.local.dir": shm_or(args.workdir, f"dedup_{tag}"),
                "spark.executorEnv.PYTHONPATH": REPO,
            },
        )
        cores = tag
    else:
        cores = args.cores or "8"
        spark = get_spark(
            "bench-dedup", cores=cores,
            shuffle_partitions=args.shuffle_partitions,
            extra_conf={
                "spark.local.dir": shm_or(args.workdir, f"dedup_{cores}")},
        )
    path = materialize_dedup_synth(spark, args.dedup_docs, args.workdir)
    cap = args.cc_endgame_cap
    fams = tuple(args.dedup_edge_families.split(","))
    run_dedup_job(spark, path, cap, fams)  # warm-up: JIT/codegen at real batch sizes
    runs = sorted(
        (run_dedup_job(spark, path, cap, fams) for _ in range(args.dedup_runs)),
        key=lambda r: r["sec"],
    )
    best = dict(runs[0])
    best["all_runs_sec"] = [round(r["sec"], 3) for r in runs]
    best["sec"] = round(best["sec"], 3)
    best["cores"] = str(cores)
    best["docs_per_sec"] = round(best["n_docs"] / best["sec"], 1)
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(best, f, indent=1)
    print(json.dumps(best))
    spark.stop()


def main_stream_dedup(args) -> None:
    """Inner (pinned-subprocess) streaming-dedup measurement at one
    parallelism level: one warm-up drain, then min of --dedup-runs
    measured drains, each from a FRESH state group + checkpoint (the
    batch_id replay guard would otherwise no-op every batch)."""
    from log_aggregator_spark.session import get_spark

    if args.lc_executors:
        # true multi-executor form: each executor its own JVM (same
        # discipline as the batch dedup scaling path's executor pair)
        os.environ.setdefault("SPARK_HOME", "/opt/spark")
        cores = f"exec_{args.lc_executors}"
        spark = get_spark(
            "bench-stream-dedup",
            cores=lc_master(args.lc_executors, mem_mb=args.lc_mem_mb),
            shuffle_partitions=args.shuffle_partitions or 32,
            extra_conf={
                "spark.local.dir": shm_or(args.workdir, f"sdedup_{cores}"),
                "spark.executorEnv.PYTHONPATH": REPO,
            },
        )
    else:
        cores = args.cores or "8"
        spark = get_spark(
            "bench-stream-dedup", cores=cores,
            shuffle_partitions=args.shuffle_partitions,
            extra_conf={
                "spark.local.dir": shm_or(args.workdir, f"sdedup_{cores}")},
        )
    path = materialize_dedup_synth(spark, args.dedup_docs, args.workdir)
    run_dir = shm_or(args.workdir, f"sdedup_state_{cores}")
    run_stream_dedup_job(spark, path, run_dir, args.stream_batches)  # warm-up
    runs = sorted(
        (
            run_stream_dedup_job(spark, path, run_dir, args.stream_batches)
            for _ in range(args.dedup_runs)
        ),
        key=lambda r: r["sec"],
    )
    best = dict(runs[0])
    best["all_runs_sec"] = [round(r["sec"], 3) for r in runs]
    best["sec"] = round(best["sec"], 3)
    best["cores"] = str(cores)
    best["docs_per_sec"] = round(best["n_docs"] / best["sec"], 1)
    shutil.rmtree(run_dir, ignore_errors=True)
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(best, f, indent=1)
    print(json.dumps(best))
    spark.stop()


def main_scaling_stream_dedup(args) -> None:
    """North-rule evidence for the STREAMING dedup service: the identical
    micro-batch fold (same corpus, same batch split) at local[N] vs
    local[4N], pinned process trees, answer-equality asserted across
    levels. Writes the pair JSON + summary under BENCH/."""
    from log_aggregator_spark.session import get_spark

    os.makedirs(args.workdir, exist_ok=True)
    if not os.path.exists(
        os.path.join(args.workdir, f"dedup_synth_{args.dedup_docs}", "_DONE")
    ):
        spark = get_spark(
            "bench-materialize", cores="*",
            extra_conf={"spark.local.dir": shm_or(args.workdir, "mat")},
        )
        materialize_dedup_synth(spark, args.dedup_docs, args.workdir)
        spark.stop()

    if args.skip_local_pair:
        # executor pair: 1 vs 4 REAL executor JVMs (4 cores + lc-mem each)
        levels = [("exec_1", 1, 5), ("exec_4", 4, 17)]
        n_label, n4_label = "local-cluster[1,4]", "local-cluster[4,4]"
    else:
        levels = [
            (str(args.n), 0, args.n),
            (str(args.n * 4), 0, args.n * 4),
        ]
        n_label, n4_label = f"local[{args.n}]", f"local[{args.n * 4}]"
    results = {}
    for tag, lc_execs, pin_cores in levels:
        mode = [
            "--stream-dedup-run",
            "--dedup-docs", str(args.dedup_docs),
            "--dedup-runs", str(args.dedup_runs),
            "--stream-batches", str(args.stream_batches),
            "--workdir", args.workdir,
        ]
        if lc_execs:
            mode += ["--lc-executors", str(lc_execs),
                     "--lc-mem-mb", str(args.lc_mem_mb)]
        else:
            mode += ["--cores", tag]
        if args.shuffle_partitions:
            mode += ["--shuffle-partitions", str(args.shuffle_partitions)]
        results[tag] = _pinned_subprocess(
            mode, pin_cores, args.workdir, "sdedup_scaling", tag
        )
    lo, hi = results[levels[0][0]], results[levels[1][0]]
    # correctness control: both levels fold to the identical answer
    for k in ("n_docs", "n_clusters", "checksum", "n_batches"):
        assert lo[k] == hi[k], f"{k} differs across levels: {lo[k]} != {hi[k]}"
    summary = {
        "metric": "stream_dedup_scaling_efficiency",
        "value": round((hi["docs_per_sec"] / lo["docs_per_sec"]) / 4.0, 3),
        "unit": "ratio",
        "n_cores": n_label,
        "n4_cores": n4_label,
        "docs_per_sec_n": lo["docs_per_sec"],
        "docs_per_sec_4n": hi["docs_per_sec"],
        "sec_n": lo["sec"],
        "sec_4n": hi["sec"],
        "dedup_docs": args.dedup_docs,
        "n_batches": lo["n_batches"],
        "n_clusters": lo["n_clusters"],
        "n_remap_rows": lo["n_remap_rows"],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    btag = f"_b{args.stream_batches}" if args.stream_batches != 8 else ""
    etag = "_exec" if args.skip_local_pair else ""
    out = os.path.join(
        REPO, "BENCH",
        f"STREAM_DEDUP_SCALING_{args.dedup_docs}{btag}{etag}.json",
    )
    with open(out, "w") as f:
        json.dump({"summary": summary, "levels": results}, f, indent=1)
    print(json.dumps(summary))


def _fams_tag(args) -> str:
    """Filename tag for non-default edge families so a stress-shape run
    never clobbers the committed daily-shape record."""
    if args.dedup_edge_families == "exact,minhash":
        return ""
    return "_" + args.dedup_edge_families.replace(",", "-")


def main_scaling_dedup(args) -> None:
    """North-rule evidence for the DEDUP family (the actual 100 TB
    workload): the identical LSH + clustering job on the identical skewed
    corpus at local[N] vs local[4N], pinned process trees. Writes the pair
    JSONs + a summary row under BENCH/."""
    # materialize once, unpinned, full-size JVM (same discipline as the
    # pipeline scaling path)
    from log_aggregator_spark.session import get_spark

    os.makedirs(args.workdir, exist_ok=True)
    if not os.path.exists(
        os.path.join(args.workdir, f"dedup_synth_{args.dedup_docs}", "_DONE")
    ):
        spark = get_spark(
            "bench-materialize", cores="*",
            extra_conf={"spark.local.dir": shm_or(args.workdir, "mat")},
        )
        materialize_dedup_synth(spark, args.dedup_docs, args.workdir)
        spark.stop()

    results = {}
    if args.skip_local_pair:
        # executor pair: 1 vs 4 REAL executor JVMs, 4 cores + lc-mem each,
        # process tree pinned to 4N+1 CPUs (driver outside the budget)
        lo = results["exec_1"] = _run_pinned_dedup(0, args, lc_executors=1)
        hi = results["exec_4"] = _run_pinned_dedup(0, args, lc_executors=4)
        n_label, n4_label = "local-cluster[1,4]", "local-cluster[4,4]"
        out_name = f"DEDUP_SCALING_{args.dedup_docs}_exec{_fams_tag(args)}.json"
    else:
        for cores in (args.n, args.n * 4):
            results[cores] = _run_pinned_dedup(cores, args)
        lo, hi = results[args.n], results[args.n * 4]
        n_label, n4_label = f"local[{args.n}]", f"local[{args.n * 4}]"
        out_name = f"DEDUP_SCALING_{args.dedup_docs}{_fams_tag(args)}.json"
    # correctness control: both levels must compute the identical answer
    for k in ("n_pairs", "n_clusters", "checksum"):
        assert lo[k] == hi[k], f"{k} differs across levels: {lo[k]} != {hi[k]}"
    ratio = 4.0
    summary = {
        "metric": "dedup_scaling_efficiency",
        "value": round((hi["docs_per_sec"] / lo["docs_per_sec"]) / ratio, 3),
        "unit": "ratio",
        "n_cores": n_label,
        "n4_cores": n4_label,
        "docs_per_sec_n": lo["docs_per_sec"],
        "docs_per_sec_4n": hi["docs_per_sec"],
        "sec_n": lo["sec"],
        "sec_4n": hi["sec"],
        "pairs_sec_n": lo["pairs_sec"],
        "pairs_sec_4n": hi["pairs_sec"],
        "cc_sec_n": lo["cc_sec"],
        "cc_sec_4n": hi["cc_sec"],
        "dedup_docs": args.dedup_docs,
        "n_pairs": lo["n_pairs"],
        "n_clusters": lo["n_clusters"],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump({"summary": summary, "levels": results}, f, indent=1)
    print(json.dumps(summary))


def main_sim(args) -> None:
    """Inner (pinned-subprocess) similarity-family measurement at one
    parallelism level: warm-up pass, then min of --sim-runs measured
    passes (same discipline as the dedup inner mode)."""
    from log_aggregator_spark.session import get_spark

    if args.lc_executors:
        os.environ.setdefault("SPARK_HOME", "/opt/spark")
        cores = f"exec_{args.lc_executors}"
        spark = get_spark(
            "bench-sim", cores=lc_master(args.lc_executors,
                                         mem_mb=args.lc_mem_mb),
            shuffle_partitions=args.shuffle_partitions or 32,
            extra_conf={
                "spark.local.dir": shm_or(args.workdir, f"sim_{cores}"),
                "spark.executorEnv.PYTHONPATH": REPO,
            },
        )
    else:
        cores = args.cores or "8"
        spark = get_spark(
            "bench-sim", cores=cores,
            shuffle_partitions=args.shuffle_partitions,
            extra_conf={
                "spark.local.dir": shm_or(args.workdir, f"sim_{cores}")},
        )
    path = materialize_sim_synth(spark, args.sim_docs, args.workdir)
    run_sim_job(spark, path, args.sim_tau, args.sim_bits)  # warm-up
    runs = sorted(
        (
            run_sim_job(spark, path, args.sim_tau, args.sim_bits)
            for _ in range(args.sim_runs)
        ),
        key=lambda r: r["sec"],
    )
    best = dict(runs[0])
    best["all_runs_sec"] = [round(r["sec"], 3) for r in runs]
    best["sec"] = round(best["sec"], 3)
    best["cores"] = str(cores)
    best["vecs_per_sec"] = round(args.sim_docs / best["sec"], 1)
    if args.json_out:
        with open(args.json_out, "w") as f:
            json.dump(best, f, indent=1)
    print(json.dumps(best))
    spark.stop()


def main_scaling_sim(args) -> None:
    """North-rule evidence for the SIMILARITY/ANN family: the identical
    corpus-sized index build + banded pair job on the identical grouped
    embedding corpus at two parallelism levels, pinned process trees,
    answer equality asserted across levels. Writes the pair JSONs + a
    summary row under BENCH/."""
    from log_aggregator_spark.session import get_spark

    os.makedirs(args.workdir, exist_ok=True)
    if not os.path.exists(
        os.path.join(args.workdir, f"sim_synth_{args.sim_docs}", "_DONE")
    ):
        spark = get_spark(
            "bench-materialize", cores="*",
            extra_conf={"spark.local.dir": shm_or(args.workdir, "mat")},
        )
        materialize_sim_synth(spark, args.sim_docs, args.workdir)
        spark.stop()

    results = {}
    if args.skip_local_pair:
        lo = results["exec_1"] = _run_pinned_sim(0, args, lc_executors=1)
        hi = results["exec_4"] = _run_pinned_sim(0, args, lc_executors=4)
        n_label, n4_label = "local-cluster[1,4]", "local-cluster[4,4]"
        out_name = f"SIM_SCALING_{args.sim_docs}_exec.json"
    else:
        for cores in (args.n, args.n * 4):
            results[cores] = _run_pinned_sim(cores, args)
        lo, hi = results[args.n], results[args.n * 4]
        n_label, n4_label = f"local[{args.n}]", f"local[{args.n * 4}]"
        out_name = f"SIM_SCALING_{args.sim_docs}.json"
    # correctness control: both levels must compute the identical answer
    for k in ("n_sig_rows", "n_pairs", "band_hits", "checksum"):
        assert lo[k] == hi[k], f"{k} differs across levels: {lo[k]} != {hi[k]}"
    summary = {
        "metric": "sim_scaling_efficiency",
        "value": round((hi["vecs_per_sec"] / lo["vecs_per_sec"]) / 4.0, 3),
        "unit": "ratio",
        "n_cores": n_label,
        "n4_cores": n4_label,
        "vecs_per_sec_n": lo["vecs_per_sec"],
        "vecs_per_sec_4n": hi["vecs_per_sec"],
        "sec_n": lo["sec"],
        "sec_4n": hi["sec"],
        "sig_sec_n": lo["sig_sec"],
        "sig_sec_4n": hi["sig_sec"],
        "pairs_sec_n": lo["pairs_sec"],
        "pairs_sec_4n": hi["pairs_sec"],
        "sim_docs": args.sim_docs,
        "sim_bits": args.sim_bits,
        "n_pairs": lo["n_pairs"],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", out_name), "w") as f:
        json.dump({"summary": summary, "levels": results}, f, indent=1)
    print(json.dumps(summary))


def _run_pinned_sim(cores: int, args, lc_executors: int = 0) -> dict:
    """Pinned similarity subprocess at exactly ``cores`` CPUs (the
    ``_pinned_subprocess`` discipline); executor mode pins 4 cores per
    executor + 1 for the driver."""
    tag = f"exec_{lc_executors}" if lc_executors else str(cores)
    mode = [
        "--sim-run",
        "--sim-docs", str(args.sim_docs),
        "--sim-runs", str(args.sim_runs),
        "--sim-bits", str(args.sim_bits),
        "--sim-tau", str(args.sim_tau),
        "--workdir", args.workdir,
    ]
    if lc_executors:
        mode += ["--lc-executors", str(lc_executors),
                 "--lc-mem-mb", str(args.lc_mem_mb)]
        pin_cores = 4 * lc_executors + 1
    else:
        mode += ["--cores", str(cores)]
        pin_cores = cores
    if args.shuffle_partitions:
        mode += ["--shuffle-partitions", str(args.shuffle_partitions)]
    return _pinned_subprocess(
        mode, pin_cores, args.workdir, "sim_scaling", tag
    )


def _run_pinned_dedup(cores: int, args, lc_executors: int = 0) -> dict:
    """Pinned dedup subprocess at exactly ``cores`` CPUs (the
    ``_pinned_subprocess`` discipline); executor mode pins 4 cores per
    executor + 1 for the driver."""
    tag = f"exec_{lc_executors}" if lc_executors else str(cores)
    mode = [
        "--dedup-run",
        "--dedup-docs", str(args.dedup_docs),
        "--dedup-runs", str(args.dedup_runs),
        "--workdir", args.workdir,
    ]
    if args.cc_endgame_cap is not None:
        mode += ["--cc-endgame-cap", str(args.cc_endgame_cap)]
    if args.dedup_edge_families != "exact,minhash":
        mode += ["--dedup-edge-families", args.dedup_edge_families]
    if lc_executors:
        mode += ["--lc-executors", str(lc_executors),
                 "--lc-mem-mb", str(args.lc_mem_mb)]
        pin_cores = 4 * lc_executors + 1
    else:
        mode += ["--cores", str(cores)]
        pin_cores = cores
    if args.shuffle_partitions:
        mode += ["--shuffle-partitions", str(args.shuffle_partitions)]
    return _pinned_subprocess(
        mode, pin_cores, args.workdir, "dedup_scaling", tag
    )


def _write_bench_md(summaries: list[dict]) -> None:
    s = summaries[0]
    rows = "\n".join(
        f"| {x['n_cores']} → {x['n4_cores']} | {x['sec_n']} s → {x['sec_4n']} s "
        f"| {x['seq_per_sec_n']:,.0f} → {x['seq_per_sec_4n']:,.0f} | **{x['value']}** |"
        for x in summaries
    )
    # headline e2e = the DRIVER-HARNESS number (latest default-mode run,
    # recorded in BENCH_LOCAL.json / BENCH_r{N}.json) — never a cleaner
    # hand-run session (VERDICT r2 #5)
    e2e_line = ""
    try:
        with open(os.path.join(REPO, "BENCH_LOCAL.json")) as fh:
            loc = json.load(fh)
        e2e_line = (
            f"\n## Headline e2e (driver harness)\n\n"
            f"`python bench.py` default mode, sf{loc['sf']} queries + synth "
            f"{loc['synth_docs']:,}-doc e2e, local[{loc['cores']}], min of 4: "
            f"**{loc['value']} s = {loc['seq_per_sec']:,.0f} sequences/sec** "
            f"(all runs: {[round(t, 2) for t in loc.get('all_runs_sec') or []]}). "
            f"This is the number the driver's BENCH_r*.json records; any "
            f"cleaner-session result is a footnote, not the headline.\n"
        )
    except (OSError, json.JSONDecodeError, KeyError):
        pass
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # auto-summary goes to its own file: BASELINE.md is curated by hand
    # (multi-window, multi-scale accounting the generator can't know)
    with open(os.path.join(REPO, "BENCH", "SCALING_RUN.md"), "w") as f:
        f.write(f"""# BENCH baseline — measured on this sandbox
{e2e_line}

Job: parse (Arrow UDF) → seq-gate/reassemble (single-shuffle window plan) →
broadcast-enrich → per-sink partitioned fan-out write → sink aggregates,
over the deterministic synthetic chunk corpus (`chunker.synth_chunks`,
{s['synth_docs']:,} docs, ~544 avg tokens/doc, hot source src0 = 50% of
rows, sparse dup/gap perturbations). Streams (reassembled sequences) per
run: {s['streams']:,}.

## N vs 4N scaling (north-rule evidence)

Evidence form (real cluster unavailable in sandbox), per driver
instruction:

**Executor scaling (the headline)** — `local-cluster[1,4,6g]` vs
`local-cluster[4,4,6g]`: each executor is a REAL separate JVM with its
own 6 GB heap, GC, Python workers and shuffle files, talking to the
driver over RPC — the faithful single-box reading of "N vs 4N
executors". Adding executors adds identical resource bundles (4 cores +
6 GB each), exactly like scaling a real cluster; the process tree is
pinned with `taskset` to 4·N+1 CPUs (driver gets one core outside the
executor budget, as on a real cluster).

**Pinned single-JVM local[N] pairs** are reported for transparency but
are NOT a faithful executor model: both levels share one fixed-size
heap, so memory-per-core varies 4× between the configs (the small
config is memory-rich per core, deflating measured efficiency), and a
single shared GC serves all tasks. The divergence between the two forms
is itself evidence that executor-shaped deployment (per-executor
heap/GC isolation) is how this pipeline scales.

Shared controls: same job, same input, same config at both levels; tmpfs
shuffle dirs + measured sink (stand-in for per-executor NVMe and a
distributed sink — the single shared 335 MB/s VM disk otherwise
serializes what per-node disks parallelize); one full-size warm-up run
(JIT/codegen at real batch sizes), then the MIN of 4 measured runs
(run-to-run GC/VM-scheduling jitter is ±10% and strictly additive, so
the fastest run is the least-contaminated estimate; all run times are
recorded in the per-config JSONs).

| N → 4N | wall | sequences/sec | efficiency |
|---|---|---|---|
{rows}

**Headline scaling efficiency (throughput ratio / parallelism ratio):
{s['value']}** at the executor pair — north-rule target ≥ 0.8. At
10^12-sequence scale the same shape holds per executor: one irreducible
shuffle on (doc_id, session), broadcast enrich, partial aggregates, and
a fan-out write that adds no exchange — nothing in the plan concentrates
work on a coordinator as executors are added.

Generated by `python bench.py --scaling [--also-4x16]
[--skip-executor-pair]`; corpus materialization is one-time, unmeasured.
""")


if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("--scaling", action="store_true")
    p.add_argument("--n", type=int, default=8, help="N for the N vs 4N scaling run")
    p.add_argument("--also-4x16", action="store_true",
                   help="additionally measure the 4-vs-16 pair (small-N cache-share artifact)")
    p.add_argument("--lc-executors", type=int, default=0,
                   help="run on local-cluster[N,4,6144] (true multi-executor JVMs)")
    p.add_argument("--skip-local-pair", action="store_true",
                   help="scaling mode: run only the executor pair "
                        "(local-cluster 1 vs 4), skip the local[N] pairs")
    p.add_argument("--skip-executor-pair", action="store_true",
                   help="scaling mode: skip the 1-vs-4 executor (local-cluster) pair")
    p.add_argument("--cores", default=None)
    p.add_argument("--multiplier", type=int, default=1)
    p.add_argument("--synth-docs", type=int, default=0,
                   help="use the deterministic synthetic scale corpus of N docs "
                        "(scaling mode default 2_000_000)")
    p.add_argument("--shuffle-partitions", type=int, default=None,
                   help="shuffle partitions for the synth-corpus scaling "
                        "runs (default: 32 in executor mode, 2x cores in "
                        "local mode); scale with --synth-docs to hold "
                        "per-task memory constant (the knob a real "
                        "cluster turns)")
    p.add_argument("--lc-mem-mb", type=int, default=6144,
                   help="per-executor heap for local-cluster mode")
    p.add_argument("--workdir", default="/tmp/la_spark_bench")
    p.add_argument("--json-out", default=None)
    p.add_argument("--skip-queries", action="store_true")
    p.add_argument("--scaling-dedup", action="store_true",
                   help="N vs 4N scaling for the dedup family (LSH pairs + "
                        "duplicate clustering on the skewed synth corpus)")
    p.add_argument("--dedup-run", action="store_true",
                   help="(internal) single-level dedup measurement")
    p.add_argument("--dedup-docs", type=int, default=1_000_000)
    p.add_argument("--cc-endgame-cap", type=int, default=None,
                   help="forwarded to components(endgame_cap=...); 0 forces "
                        "the pure iterative CC (the stress-record form)")
    p.add_argument("--dedup-edge-families", default="exact,minhash",
                   help="comma list of pair generators for the dedup "
                        "scaling job; the committed CC stress record = "
                        "exact,minhash,simhash with --cc-endgame-cap 0")
    p.add_argument("--dedup-runs", type=int, default=2,
                   help="measured passes per level (min is reported)")
    p.add_argument("--scaling-sim", action="store_true",
                   help="N vs 4N scaling for the similarity/ANN family "
                        "(corpus-sized LSH index build + banded pair job "
                        "on the grouped synth embeddings)")
    p.add_argument("--sim-run", action="store_true",
                   help="(internal) single-level similarity measurement")
    p.add_argument("--sim-docs", type=int, default=1_000_000)
    p.add_argument("--sim-bits", type=int, default=20,
                   help="bits per LSH band for the scaled index "
                        "(size ≈ log2(sim-docs))")
    p.add_argument("--sim-tau", type=float, default=0.99,
                   help="cosine threshold for the verified pair set")
    p.add_argument("--sim-runs", type=int, default=2,
                   help="measured passes per level (min is reported)")
    p.add_argument("--scaling-stream-dedup", action="store_true",
                   help="N vs 4N scaling for the STREAMING dedup service "
                        "(foreachBatch fold over the skewed synth corpus)")
    p.add_argument("--stream-dedup-run", action="store_true",
                   help="(internal) single-level streaming-dedup measurement")
    p.add_argument("--stream-batches", type=int, default=8,
                   help="micro-batch count for the streaming dedup bench")
    args = p.parse_args()
    if args.scaling_sim:
        main_scaling_sim(args)
    elif args.sim_run:
        main_sim(args)
    elif args.scaling_stream_dedup:
        main_scaling_stream_dedup(args)
    elif args.stream_dedup_run:
        main_stream_dedup(args)
    elif args.scaling_dedup:
        main_scaling_dedup(args)
    elif args.dedup_run:
        main_dedup(args)
    elif args.scaling:
        if not args.synth_docs:
            args.synth_docs = 2_000_000
        main_scaling(args)
    else:
        # default (driver-contract) mode: per-query timings at the driver's
        # sf + an e2e headline over a synth corpus big enough that
        # throughput reflects the engine, not fixed overheads. One-time
        # materialization is cached under --workdir.
        if not args.synth_docs and args.multiplier == 1:
            args.synth_docs = 500_000
        main_default(args)
