"""SparkSession construction with scale-aware defaults.

Local mode stands in for a multi-executor cluster; everything below is a knob
that matters identically on a real 1000-executor deployment:

* AQE on — runtime coalescing + skew-join splitting handles the hot-source
  skew the north rule calls out, without hand-tuned partition counts.
* shuffle partitions ≈ total cores locally; on a cluster this would be
  2–3× total executor cores (AQE coalesces down, it can't split up a
  too-small number cheaply pre-3.2).
* Arrow enabled — every Python-side kernel in this repo is a pandas/Arrow
  UDF (no per-row Python anywhere, per BASELINE.json input_hint).
* UTC session TZ — required for value-identical comparison against DuckDB
  oracles (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LOCALE_PIN = "-Duser.language=en -Duser.country=US"


def _worker_daemon_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """Confs that start the Python workers through ``worker_daemon``, which
    imports pyspark from site-packages (see that module). Only for a local
    master with the package imported from a directory: the daemon starts
    before any ``--py-files`` archive reaches the worker's path, so it must
    find the package on ``spark.executorEnv.PYTHONPATH``, and only a local
    executor shares this directory."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(root) or not (master == "local" or master.startswith(("local[", "local-cluster["))):
        return {}
    path = [root] + [p for p in [extra_conf.get("spark.executorEnv.PYTHONPATH")] if p]
    return {
        "spark.python.daemon.module": "log_aggregator_spark.worker_daemon",
        "spark.executorEnv.PYTHONPATH": os.pathsep.join(path),
    }


def get_spark(
    app_name: str = "log_aggregator_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores`` may be an int (→ ``local[N]``) or a full master string. Defaults
    to ``local[$SPARK_GRAFT_CPUS]`` (driver convention) or ``local[*]``.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = cores if isinstance(cores, str) and cores.startswith(("local", "spark://", "yarn")) else f"local[{cores}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        if isinstance(cores, int):
            n = cores
        elif isinstance(cores, str) and cores.isdigit():
            n = int(cores)
        # 2x total cores (cluster guidance: 2-3x executor cores); AQE
        # coalesces small shuffles back down at runtime.
        shuffle_partitions = max(16, 2 * n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Pin the JVM default locale: Spark's lower()/upper() fall back to
        # locale-sensitive String.toLowerCase for non-ASCII strings, so a
        # Turkish-locale JVM lowers 'I' in a non-ASCII string to dotless
        # 'ı' while the Python twin kernels (locale-independent
        # str.lower()) and DuckDB give 'i' — measured divergence on this
        # exact Spark build. Under en-US the JVM matches Python on every
        # special-casing edge tested (dotted İ, ẞ, final sigma). Same
        # determinism class as the UTC session TZ above. Executor JVMs
        # are separate processes in local-cluster mode, so both get it.
        .config("spark.driver.extraJavaOptions", _LOCALE_PIN)
        .config("spark.executor.extraJavaOptions", _LOCALE_PIN)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: the parse UDF ships only a string column per
        # row — 64k rows ≈ 2.5 MB per batch, and fewer Python round-trips
        # matter more than batch memory here (a round trip costs a fixed
        # ~0.03 CPU-s before its first row, see worker_daemon). run_job
        # also parses its new chunks in one Python task per this many rows
        # (job._parse_tasks)...
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # ...but the row cap alone is wrong for WIDE rows: 64k rows of 64 KB
        # media payloads would be a ~4 GiB Arrow batch. The byte cap closes
        # a batch when EITHER bound is hit (Spark semantics when both are
        # set), so narrow parse batches stay at 64k rows while binary-heavy
        # mapInPandas batches (multimodal decode) are cut at 64 MiB.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # task-side commit (v2): job commit is O(1) renames instead of a
        # serial driver-side rename per task output — matters for the
        # per-sink fan-out write, which produces many files by design.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # generated-code cache: one run_job pass (gate, five member writes,
        # their reads) generates more distinct classes than the default
        # 100 entries hold, so every pass recompiled some of the same code
        # with Janino and the JIT started over on the new classes. How
        # many it recompiled depended on the order the concurrent member
        # writes reached the cache, so a pass's CPU time varied from one
        # pass to the next. Sized to hold a pass's classes, a repeated
        # pass compiles nothing. A static conf: it only takes effect when
        # the session is created.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
    )
    if master.startswith("local-cluster["):
        # local-cluster[N, cores, mem_mb] sizes the WORKER's allocatable
        # memory only; the executor JVM heap still comes from
        # spark.executor.memory (default 1g). Without this, every
        # "12 GB executor" in the scaling harness actually ran -Xmx1024M —
        # found when a corpus-sized single micro-batch kept losing
        # executors (exit 143) however high the worker memory was set.
        # Claim the worker's whole grant for the executor heap.
        mem_mb = int(master.rstrip("]").split(",")[2])
        builder = builder.config("spark.executor.memory", f"{mem_mb}m")
    extra_conf = extra_conf or {}
    for k, v in {**extra_conf, **_worker_daemon_conf(master, extra_conf)}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # The locale pin above is launch-time-only config: getOrCreate
    # silently keeps a pre-existing JVM's locale, which would void the
    # lowercase-parity contract (text._py_words) with no error — the
    # divergence is silent wrong dedup/shingle output, so fail loudly
    # here instead. (Runtime confs like the session timeZone don't have
    # this failure mode; JVM system properties do.)
    lang = spark._jvm.java.util.Locale.getDefault().getLanguage()
    if lang != "en":
        raise RuntimeError(
            f"JVM default locale is '{lang}', not the pinned 'en' — the "
            "session predates get_spark's locale pin (_LOCALE_PIN), and "
            "Spark's locale-sensitive lower() would silently diverge "
            "from the repo's Python twin kernels. Stop the existing "
            "SparkSession (or launch the JVM with -Duser.language=en) "
            "before calling get_spark."
        )
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently pinned in executor storage (cached or
    localCheckpoint'ed). Snapshot before a checkpoint-producing job, then
    diff, to scope cleanup to the RDDs that job pinned."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def unpersist_rdds(
    spark: SparkSession,
    ids: set[int] | None = None,
    exclude: set[int] | None = None,
) -> None:
    """Eagerly unpersist pinned RDDs: those in ``ids`` (all when None),
    minus ``exclude`` — the free-everything-pinned-since-a-snapshot form
    (``exclude=persistent_rdd_ids()`` taken earlier) in ONE Py4J map
    fetch. ContextCleaner reclaims checkpoint blocks only after Py4J GC,
    which lags far behind the Spark job — iterative CC, the streaming
    dedup fold, and back-to-back bench passes all leak pinned generations
    without an explicit free. THE shared bookkeeping: dedup CC, the
    streaming fold, and bench.py all call this instead of carrying their
    own unpersist loops. The ``get(k) is not None`` guard tolerates
    entries evicted between the key snapshot and the lookup."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in list(jmap.keySet().toArray()):
        ki = int(k)
        if ids is not None and ki not in ids:
            continue
        if exclude is not None and ki in exclude:
            continue
        if jmap.get(k) is not None:
            jmap.get(k).unpersist()
