#!/usr/bin/env python3
"""Pipeline benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload batch_small_chunks --seed 1 --seconds 8 --trace 0

Runs Spark on ``local[4]`` inside this process. Untraced (``--trace 0``)
it sets up, then repeats measured passes for at least ``--seconds`` seconds
and a fixed number of passes, checks every pass against the closed-form
oracle and prints the end-to-end metrics.
Traced (``--trace 1``) it also times each layer's public function on
materialized inputs, reads Spark's stage metrics after each call and prints
the per-layer metrics. The last stdout line is the JSON result; the exit
code is non-zero if any pass failed or mismatched. Everything the run
writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

from tracing import MB, RssSampler, StageProbe, Tracer, jit_cpu_s, process_tree, self_times, steal_s, tree_cpu_s

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

CORES = 4
DRIVER_MEM = "2g"  # -Xmx, and -Xms too: a fixed heap keeps GC and resident memory alike across runs
TRACED_PASSES = 2


def load_spec() -> dict:
    """BENCHMARK.json, which names the workloads and the metrics with their units."""
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _confine_to_checkout() -> None:
    """Keep every file Spark, the JVM and Python write under WORK, and let
    Python workers import the package from this checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [str(ROOT), str(HERE)]


def start_session(cores: int):
    from log_aggregator_spark.session import _LOCALE_PIN, get_spark

    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"{_LOCALE_PIN} -XX:-UsePerfData -Xms{DRIVER_MEM} -XX:-UseDynamicNumberOfCompilerThreads"
                f" -Djava.io.tmpdir={WORK / 'tmp'}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def sample_summary(xs: list[float]) -> dict:
    """Count, median and maximum of per-pass values, and the values."""
    return {
        "n": len(xs),
        "median": statistics.median(xs),
        "max": max(xs),
        "values": [round(x, 4) for x in xs],
    }


def program_cpu_s(jvm_pid: int, sampler: RssSampler | None = None) -> tuple[float, float]:
    """CPU seconds so far of this process (the Python driver), the JVM and
    the JVM's Python workers, less the JIT compiler threads and the memory
    sampler's thread; and of the JIT compiler threads."""
    jit = jit_cpu_s(jvm_pid)
    return tree_cpu_s(os.getpid()) - jit - (sampler.cpu_s if sampler else 0.0), jit


class Runner:
    """Counts every pass, checks it against the oracle, and keeps the times
    of the passes that were correct."""

    def __init__(self, bench, expected: dict, jvm_pid: int) -> None:
        self.bench = bench
        self.expected = expected
        self.pid = jvm_pid
        self.attempted = 0
        self.failed = 0
        self.sampler: RssSampler | None = None  # its thread's CPU is the benchmark's, not the program's
        self.last_cpu = self.last_jit = 0.0  # of the last pass: all but the JIT's, and the JIT's

    def cpu_s(self) -> tuple[float, float]:
        return program_cpu_s(self.pid, self.sampler)

    def one_pass(self, span=lambda name: nullcontext()) -> float | None:
        """Time one pass (traced if ``span`` records spans), then check it."""
        self.attempted += 1
        try:
            self.bench.prepare()
            c0, j0 = self.cpu_s()
            t0 = time.perf_counter()
            with span("pass"):
                out = self.bench.run(span)
            dt = time.perf_counter() - t0
            c1, j1 = self.cpu_s()
            self.last_cpu, self.last_jit = c1 - c0, j1 - j0
            observed = self.bench.observed(out)
        except Exception:  # a failed pass counts against fail_frac
            traceback.print_exc()
            self.failed += 1
            return None
        bad = {k: (v, self.expected[k]) for k, v in observed.items() if v != self.expected[k]}
        if bad:
            print(f"pass mismatched the oracle: {bad}", file=sys.stderr)
            self.failed += 1
            return None
        return dt


def measure(runner: Runner, seconds: float) -> tuple[list[float], list[float], list[float], RssSampler]:
    times, cpu, jit = [], [], []
    sampler = runner.sampler = RssSampler(runner.pid).start()
    least = runner.bench.MIN_PASSES
    deadline = time.perf_counter() + seconds
    while len(times) < least or time.perf_counter() < deadline:
        dt = runner.one_pass()
        if dt is not None:
            times.append(dt)
            cpu.append(runner.last_cpu)
            jit.append(runner.last_jit)
        if runner.failed > least:
            break
    sampler.stop()
    runner.sampler = None
    return times, cpu, jit, sampler


def operator_metrics(spark, tr, work: Path, chunks, routes) -> dict:
    """parse → reassemble → enrich → route → aggregate: each layer's public
    function on the previous layer's output materialized under ``work``,
    writing to the noop sink (route writes its parquet, aggregate collects).
    Then the fused plan, ``run_pipeline`` and ``route_write``, on the same
    input."""
    from log_aggregator_spark.operators.aggregate import sink_counts
    from log_aggregator_spark.operators.enrich import enrich
    from log_aggregator_spark.operators.parse import split_rejects
    from log_aggregator_spark.operators.reassemble import held_back, reassemble_sql
    from log_aggregator_spark.operators.route import route_write
    from log_aggregator_spark.plans import run_pipeline

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def materialize(df, name):
        with tr.span("materialize", "layers"):
            df.write.mode("overwrite").parquet(str(work / name))
        return spark.read.parquet(str(work / name))

    m = {}
    ok, _rejects = split_rejects(chunks)
    with tr.span("parse", "layers") as sp:
        noop(ok)
    parsed = materialize(ok, "parsed")
    m["parse.s"] = tr.dur(sp)
    m["parse.rows_in"] = chunks.count()
    m["parse.rejects"] = m["parse.rows_in"] - parsed.count()
    m["parse.rows_per_s"] = m["parse.rows_in"] / m["parse.s"]
    m["parse.gc_s"] = sp["stages"].gc_s

    with tr.span("reassemble", "layers") as sp:
        noop(reassemble_sql(parsed))
    st = sp["stages"]
    reassembled = materialize(reassemble_sql(parsed), "reassembled")
    with tr.span("held_back", "layers"):
        held = held_back(parsed).count()
    live = parsed.select("doc_id", "session", "seq").distinct().count()
    m.update({
        "reassemble.s": tr.dur(sp), "reassemble.streams_out": reassembled.count(),
        "reassemble.held_chunks": held, "reassemble.accept_ratio": (live - held) / live,
        "reassemble.shuffle_mb": st.shuffle_mb, "reassemble.spill_mb": st.spill_mb,
        "reassemble.task_skew": st.task_skew, "reassemble.gc_s": st.gc_s,
    })

    with tr.span("enrich", "layers") as sp:
        noop(enrich(reassembled, routes))
    enriched = materialize(enrich(reassembled, routes), "enriched")
    m.update({"enrich.s": tr.dur(sp), "enrich.rows_out": enriched.count(),
              "enrich.shuffle_mb": sp["stages"].shuffle_mb})

    out = work / "route_out"
    with tr.span("route", "layers") as sp:
        route_write(enriched, str(out))
    files = [p for p in out.rglob("part-*") if p.suffix != ".crc"]
    m.update({"route.s": tr.dur(sp), "route.out_mb": sum(p.stat().st_size for p in files) / MB,
              "route.files": len(files), "route.task_skew": sp["stages"].task_skew})

    with tr.span("aggregate", "layers") as sp:
        counts = sink_counts(enriched).collect()
    rows = [r["n_rows"] for r in counts]
    m.update({"aggregate.s": tr.dur(sp), "aggregate.shuffle_mb": sp["stages"].shuffle_mb,
              "route.hot_sink_share": max(rows) / sum(rows)})

    with tr.span("plan", "layers"):
        route_write(run_pipeline(chunks, routes).enriched, str(work / "plan_out"))
    return m


def table_metrics(spark, tr, work: Path, table, since, state, run_pass) -> dict:
    """``tableio`` and ``lineage`` on the rows ``table`` gained after
    snapshot ``since``, one ``run_pass()`` (a ``run_job`` call on ``state``)
    over them, then a five-member ``TableGroup`` commit of what it wrote."""
    from pyspark.sql import functions as F

    from log_aggregator_spark.lineage import lineage_from_files
    from log_aggregator_spark.tableio import TableGroup

    m = {}
    with tr.span("tableio.read", "layers") as sp:
        table.read_incremental(spark, since).write.format("noop").mode("overwrite").save()
    m["tableio.read_s"] = tr.dur(sp)
    with tr.span("lineage", "layers") as sp:
        files = table.incremental_files(since)
        lineage_from_files(spark, files).collect()
    m.update({"lineage.s": tr.dur(sp), "lineage.files": len(files)})
    with tr.span("job", "layers"):
        summary = run_pass()
    this_run = F.col("run_id") == summary["run_id"]
    routed = state.routed.read(spark).where(this_run)
    m.update({
        "job.held_rows": state.held.read(spark).count(),
        "job.ckpt_rows": state.checkpoint.read(spark).count(),
        "job.rejects": state.rejects.read(spark).where(this_run).count(),
    })

    group = TableGroup(str(work / "commit_probe"))
    shutil.rmtree(group.root, ignore_errors=True)
    members = {
        "routed": (routed, "append"),
        "checkpoint": (state.checkpoint.read(spark), "overwrite"),
        "held": (state.held.read(spark), "overwrite"),
        "metrics": (state.metrics.read(spark).where(this_run), "append"),
        "rejects": (state.rejects.read(spark).where(this_run), "append"),
    }
    with tr.span("tableio.commit", "layers") as sp:
        snap = group.commit(members)
    added = [f for t in group._manifest(snap)["tables"].values() for f in t["added_files"]]
    m.update({"tableio.commit_s": tr.dur(sp), "tableio.files": len(added),
              "tableio.commit_mb": sum(os.path.getsize(f) for f in added) / MB})
    return m


def traced_run(spark, wl, bench, runner: Runner, work: Path, seed: int) -> tuple[dict, float]:
    """Untraced passes, traced passes, then every layer on this workload's
    input: the chunks of a batch pass, the late chunks of a resume pass.
    Returns the per-layer metrics and the median untraced pass time."""
    from log_aggregator_spark.job import JobState, run_job
    from log_aggregator_spark.tableio import SnapshotTable

    tr = Tracer(StageProbe(spark))
    untraced, jit = [], []
    for i in range(TRACED_PASSES):  # alternate, so the JIT's progress favours neither
        dt = runner.one_pass()
        if dt is not None:
            untraced.append(dt)
            jit.append(runner.last_jit)
        runner.one_pass(lambda name, pid=f"pass{i}": tr.span(name, pid))
    passes = [s for s in tr.spans if s["name"] == "pass"]
    selfs = self_times(tr.spans)

    m = {
        "pass.wall_s": statistics.median(untraced),
        "pass.jit_cpu_s": statistics.median(jit),
        "trace.overhead_s": statistics.median(tr.dur(s) for s in passes) - statistics.median(untraced),
        "trace.pass_self_s": statistics.median(selfs[s["id"]] for s in passes),
    }
    with tr.span("layers", "layers"):
        if wl.resume:
            m.update(operator_metrics(spark, tr, work, bench.late, bench.routes))
            bench.prepare()
            m.update(table_metrics(spark, tr, work, bench.chunks_table, bench.snap - 1,
                                   bench.state, lambda: bench.run(lambda name: nullcontext())))
        else:
            m.update(operator_metrics(spark, tr, work, bench.chunks, bench.routes))
            table = SnapshotTable(str(work / "tables" / "chunks"))
            state = JobState(str(work / "tables" / "state"))
            table.commit(bench.chunks)
            m.update(table_metrics(spark, tr, work, table, None, state,
                                   lambda: run_job(spark, table, bench.routes, state)))
    plans = [s for s in tr.spans if s["name"] == "plan"]
    m["plan.s"] = statistics.median(tr.dur(s) for s in plans)
    m["plan.shuffle_mb"] = statistics.median(s["stages"].shuffle_mb for s in plans)
    m["plan.stages"] = statistics.median(s["stages"].stages for s in plans)
    m["job.s"] = statistics.median(tr.dur(s) for s in tr.spans if s["name"] == "job")

    spans_out = WORK / "spans" / f"{wl.name}-s{seed}.json"
    spans_out.parent.mkdir(parents=True, exist_ok=True)
    spans_out.write_text(json.dumps(tr.dump(), indent=1))
    return m, statistics.median(untraced)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not 0 <= args.seed < 2**31:
        ap.error("--seed must be in [0, 2^31)")

    metrics_key = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in load_spec()[metrics_key]}
    _confine_to_checkout()
    from workloads import WORKLOADS, BatchRun, ResumeRun, generate

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]
    work = WORK / wl.name
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    t = time.perf_counter()
    expected = wl.expected(args.seed)
    oracle_s = time.perf_counter() - t

    steal0 = steal_s()
    cpu0 = tree_cpu_s(os.getpid())
    t = time.perf_counter()
    spark = start_session(CORES)
    session_s = time.perf_counter() - t
    try:
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        session_cpu, session_jit = program_cpu_s(jvm_pid)
        corpus = work / "corpus"
        t = time.perf_counter()
        generate(spark, wl, args.seed, str(corpus))
        gen_s = time.perf_counter() - t

        bench = (ResumeRun if wl.resume else BatchRun)(spark, str(corpus), str(work))
        runner = Runner(bench, expected, jvm_pid)
        c0, j0 = runner.cpu_s()
        t = time.perf_counter()
        bench.register()
        for _ in range(bench.WARM_UP_PASSES):
            runner.one_pass()
        setup_wall = session_s + time.perf_counter() - t
        c1, j1 = runner.cpu_s()
        # set-up CPU: session start, registration and warm-up, not corpus generation
        setup_s = session_cpu - cpu0 + c1 - c0

        detail = {"workload": wl.name, "seed": args.seed, "oracle_s": oracle_s, "session_s": session_s,
                  "gen_s": gen_s, "setup_wall_s": setup_wall, "setup_jit_cpu_s": session_jit + j1 - j0}
        if args.trace:
            metrics, untraced_s = traced_run(spark, wl, bench, runner, work, args.seed)
            spark.stop()  # same JVM, new context with one core
            spark = start_session(1)
            # the parse UDF caches its JVM handle, which still points at the
            # stopped context's accumulator server: make it build a new one
            from log_aggregator_spark.operators.parse import _parse_envelope_udf

            _parse_envelope_udf._unwrapped._judf_placeholder = None
            bench.spark = spark
            bench.load()
            single = runner.one_pass()
            metrics["scaling.eff_1_to_4"] = (single or 0.0) / (CORES * untraced_s)
            detail["local1_pass_s"] = single
        else:
            times, cpu, jit, rss = measure(runner, args.seconds)
            if not times:
                raise RuntimeError("no pass succeeded")
            cpu_s = statistics.median(cpu)
            streams = sum(s["n_rows"] for s in expected["sinks"].values())
            tokens = sum(s["sum_n_tok"] for s in expected["sinks"].values())
            busy = [c / w for c, w in zip(cpu, times)]
            metrics = {"pass_cpu_s": cpu_s, "seq_per_cpu_s": streams / cpu_s, "tok_per_cpu_s": tokens / cpu_s,
                       "busy_cores": statistics.median(busy), "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}
            pass_s = statistics.median(times)
            detail.update(seq_per_s=streams / pass_s, tok_per_s=tokens / pass_s)
            detail["pass_s"] = sample_summary(times)
            detail["at_peak_rss"] = rss.at_peak
            detail["pass_cpu_s"] = sample_summary(cpu)
            detail["pass_jit_cpu_s"] = sample_summary(jit)
            detail["steal_s"] = steal_s() - steal0
        detail["fail_frac"] = runner.failed / runner.attempted
    finally:
        stop_session(spark)

    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if runner.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
