"""Snapshot-table storage layer — the Iceberg stand-in (SURVEY.md §7).

The north rule stores everything in Iceberg tables; this sandbox has no
Iceberg runtime jar (network blocked), so ``TableGroup`` reproduces the
two Iceberg properties the pipeline actually relies on, over plain parquet:

* **atomic snapshot commit** — data files land first, then a manifest JSON
  naming exactly those files is written whole under a temp name and
  hard-linked to ``snap-N.json``: one atomic put-if-absent, the commit
  point. The highest ``snap-N.json`` is the current snapshot, so a crash
  anywhere leaves either no new manifest or a complete one, and never
  partially-visible data. This is the table-level analog of the
  reference's ``.tmp`` + ``ATOMIC_MOVE`` per chunk
  (``/root/reference/agent/.../DataPumpImpl.java:55-61``,
  ``/root/reference/server/.../LogServerController.java:122-128``).
* **incremental reads** — the rows added after a snapshot are the files the
  later ``append`` commits added; a compaction adds none (Iceberg's
  incremental scan; the reference's directory watch). Lineage carries
  forward through every commit, as Iceberg's table properties do.

A group commits several member tables in one manifest. A standalone
``SnapshotTable`` is a group of one member, so there is one write, publish,
compaction and expiry path for both.

A reader pins one snapshot, as an Iceberg reader loads the table metadata
once: ``TableGroup.snapshot()`` parses one manifest into a ``Snapshot``, and
an operation reads and commits (``commit(parent=)``) through that one view.
Only ``Snapshot`` and ``_manifest`` read the manifest layout.

Layout::

    <root>/data/<uuid>/part-*.parquet          (one dir per member write with rows)
    <root>/manifests/snap-00000001.json        (member modes and file lists + lineage)

Driver-side filesystem ops only (a commit is O(#files) metadata, never
data movement); executors touch parquet exclusively.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# Never-manifested data dirs younger than this survive orphan GC — they may
# be a concurrent commit's files awaiting its manifest CAS (Iceberg's
# remove_orphan_files uses the same 3-day default for the same race).
ORPHAN_MIN_AGE_SEC: float = 3 * 24 * 3600


class ConcurrentCommitError(RuntimeError):
    """Another committer already published this snapshot id or a later
    one. Iceberg's commit is an atomic compare-and-swap on the metadata
    pointer; the stand-in gets the same guarantee from linking the manifest
    to its ``snap-N.json`` name, which fails when the name exists — the
    LOSING writer fails loudly instead of silently clobbering the winner's
    snapshot (lost update)."""


class SnapshotExpiredError(LookupError):
    """An incremental read's ``since`` has expired: what came after it is unknown."""


def _gc_data_dir(
    data_root: str, referenced: set[str], expired_refs: set[str], orphan_min_age_sec: float
) -> int:
    """Delete whole unreferenced commit dirs under ``data_root`` (a member
    write leaves one ``data/<uuid>`` dir, none when it wrote no rows, so
    orphan granularity is the dir). A dir referenced only by expired
    manifests is settled history — deleted immediately; a dir referenced by
    NO manifest ever is deleted only past ``orphan_min_age_sec`` (it may
    belong to an in-flight concurrent commit — see expire_snapshots).
    Driver-side metadata-only walk."""
    cutoff = time.time() - orphan_min_age_sec
    deleted = 0
    for d in glob.glob(os.path.join(data_root, "*")):
        parts = glob.glob(os.path.join(d, "part-*"))  # checksums are ".part-*"
        if parts and any(p in referenced for p in parts):
            continue
        was_manifested = any(p in expired_refs for p in parts)
        if not was_manifested:
            try:
                if os.path.getmtime(d) >= cutoff:
                    continue  # possible in-flight commit — too young to GC
            except OSError:
                continue
        deleted += len(parts)
        shutil.rmtree(d, ignore_errors=True)
    return deleted


def file_rows(files: list[str]) -> list[int]:
    """Rows in each parquet file of ``files``, read from its footer."""
    import pyarrow.parquet as pq

    return [pq.read_metadata(f).num_rows for f in files]


def _keep_files_with_rows(data_dir: str) -> list[str]:
    """The data files a member write left in ``data_dir`` that hold rows,
    sorted. Spark's writer writes task 0's file even when its partition is
    empty; those files are deleted here (with their checksums), and so is
    the whole dir when no file has rows, so that what a manifest lists is
    what is on disk and a reader never opens an empty file."""
    parts = sorted(glob.glob(os.path.join(data_dir, "part-*")))
    rows = file_rows(parts)
    for p, n in zip(parts, rows):
        if not n:
            os.remove(p)
            crc = os.path.join(data_dir, f".{os.path.basename(p)}.crc")
            if os.path.exists(crc):
                os.remove(crc)
    kept = [p for p, n in zip(parts, rows) if n]
    if not kept:
        shutil.rmtree(data_dir, ignore_errors=True)
    return kept


def read_files(spark: SparkSession, files: list[str], schema_json: str) -> DataFrame:
    """Scan ``files`` under the schema their manifest recorded. Naming the
    schema skips Spark's parquet footer-inference job (one per read), and
    older files that lack a column added later read it as null."""
    schema = StructType.fromJson(json.loads(schema_json))
    if not files:
        return spark.createDataFrame([], schema=schema)
    return spark.read.schema(schema).parquet(*files)


class IcebergTable:
    """The real-Iceberg backend the north rule names — the same
    commit/read/read_incremental/lineage surface as ``SnapshotTable``, over
    a catalog table via the public Iceberg–Spark integration (DataFrame
    ``writeTo`` V2 API + the ``.snapshots`` metadata table + incremental
    reads with ``start-snapshot-id``/``end-snapshot-id``).

    Requirements (a real deployment, not this sandbox — no network, no
    runtime jar): the ``iceberg-spark-runtime`` jar on the classpath and a
    catalog configured, e.g.::

        spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.lake.type = hadoop      # or hive/rest
        spark.sql.catalog.lake.warehouse = s3://.../warehouse

    Construction performs a capability check and fails with these
    instructions when the runtime is absent. One table switches by the
    constructor (``IcebergTable(spark, "lake.db.routed")`` for
    ``SnapshotTable(path)``); ``run_job`` needs Iceberg forms of the
    multi-table ``TableGroup`` commit and of ``increment`` first."""

    def __init__(self, spark: SparkSession, name: str) -> None:
        if not self.available(spark):
            raise RuntimeError(
                "Iceberg runtime not on the classpath: add the "
                "iceberg-spark-runtime jar and a spark.sql.catalog.<name> "
                "configuration (see IcebergTable docstring), or use the "
                "SnapshotTable parquet backend"
            )
        self.spark = spark
        self.name = name

    @staticmethod
    def available(spark: SparkSession) -> bool:
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    # same surface as SnapshotTable ---------------------------------------

    def commit(self, df: DataFrame, mode: str = "append", lineage: dict | None = None) -> int:
        w = df.writeTo(self.name)
        if mode == "append":
            w.append()
        else:
            w.createOrReplace()
        if lineage:
            props = ", ".join(
                f"'lineage.{k}'='{v}'" for k, v in lineage.items()
            )
            self.spark.sql(f"ALTER TABLE {self.name} SET TBLPROPERTIES ({props})")
        return self.current_snapshot() or 0

    def current_snapshot(self) -> int | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self.name}.snapshots "
            "ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return int(rows[0][0]) if rows else None

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.name)

    def read(self, spark: SparkSession, snapshot: int | None = None) -> DataFrame:
        r = spark.read.format("iceberg")
        if snapshot is not None:
            r = r.option("snapshot-id", str(snapshot))
        return r.load(self.name)

    def read_incremental(self, spark: SparkSession, since: int | None) -> DataFrame | None:
        current = self.current_snapshot()
        if current is None or current == since:
            return None
        if since is None:
            return self.read(spark, current)
        return (
            spark.read.format("iceberg")
            .option("start-snapshot-id", str(since))
            .option("end-snapshot-id", str(current))
            .load(self.name)
        )

    def lineage(self) -> dict:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.name}").collect()
        p = "lineage."
        return {r["key"][len(p):]: r["value"] for r in rows if r["key"].startswith(p)}

    # ------------------------------------------------------ maintenance ops
    # Same surface as SnapshotTable.compact/expire_snapshots so the
    # backend-parameterized contract suite (tests/test_storage_contract.py)
    # exercises maintenance uniformly — here they delegate to Iceberg's own
    # procedures, which is how a real deployment runs them.

    def compact(self, spark: SparkSession, target_file_mb: int = 128) -> int:
        """Iceberg's ``rewrite_data_files`` procedure (the engine-native
        form of SnapshotTable.compact)."""
        catalog = self.name.split(".", 1)[0]
        spark.sql(
            f"CALL {catalog}.system.rewrite_data_files("
            f"table => '{self.name}', "
            f"options => map('target-file-size-bytes', "
            f"'{target_file_mb * 1024 * 1024}'))"
        )
        return self.current_snapshot() or 0

    def expire_snapshots(
        self, keep_last: int = 2, orphan_min_age_sec: float = ORPHAN_MIN_AGE_SEC
    ) -> dict:
        """Iceberg's ``expire_snapshots`` + ``remove_orphan_files`` pair —
        the engine-native form of SnapshotTable.expire_snapshots (which
        documents the same min-age orphan guard Iceberg defaults to)."""
        import datetime

        catalog = self.name.split(".", 1)[0]
        expired = self.spark.sql(
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{self.name}', retain_last => {keep_last})"
        ).collect()
        cutoff = datetime.datetime.now(datetime.timezone.utc) - datetime.timedelta(
            seconds=orphan_min_age_sec
        )
        # explicit offset: a zone-less literal is read in the session time
        # zone, which would shift the min-age guard by up to ~14h
        orphans = self.spark.sql(
            f"CALL {catalog}.system.remove_orphan_files("
            f"table => '{self.name}', "
            f"older_than => TIMESTAMP '{cutoff:%Y-%m-%d %H:%M:%S}+00:00')"
        ).collect()
        return {"expired": [r[0] for r in expired], "deleted_files": len(orphans)}


class Snapshot:
    """One parsed manifest of a :class:`TableGroup`. An operation reads
    every member through one view and commits against it, so it sees one
    snapshot whatever lands meanwhile; an empty group's view has id None."""

    def __init__(self, snap_id: int | None, manifest: dict) -> None:
        self.id = snap_id
        self.lineage: dict = manifest["lineage"]
        self._tables: dict = manifest["tables"]
        self.members = list(self._tables)

    def exists(self, name: str) -> bool:
        return name in self._tables

    def files(self, name: str) -> list[str]:
        return self._tables[name]["files"]

    def added_files(self, name: str) -> list[str]:
        """The files this snapshot's commit wrote for ``name``; [] if carried."""
        return self._tables[name]["added_files"]

    def appended_files(self, name: str) -> list[str]:
        """``added_files`` if the commit appended them; [] if it overwrote."""
        return self.added_files(name) if self._tables[name]["mode"] == "append" else []

    def schema(self, name: str) -> str:
        return self._tables[name]["schema"]

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        return read_files(spark, self.files(name), self.schema(name))


class GroupMember:
    """One table of a :class:`TableGroup`, read at the current snapshot; an
    operation that reads several reads them through one ``snapshot()``."""

    def __init__(self, group: "TableGroup", name: str) -> None:
        self._group = group
        self.name = name

    def read(self, spark: SparkSession) -> DataFrame:
        return self._group.snapshot().read(spark, self.name)


class TableGroup:
    """Atomic MULTI-table commit: one manifest names the complete file
    lists of every member table, and its one atomic link makes them all
    visible together.

    This closes the duplicate-append crash window the per-table design had
    (routed appended, then crash before the checkpoint overwrite → retry
    re-appends; the reference has the same window between payload append
    and its ``.lastSeq`` write, ``DataPumpDecoderSort.java:48-51``). With
    one commit there IS no between: a crash anywhere before the link
    leaves the previous snapshot fully visible (orphaned data dirs are
    inert garbage — exactly Iceberg's orphan-file model), and the retry
    reprocesses the same input once.

    Manifest layout: ``{"snapshot": N, "parent": P, "tables": {name:
    {"mode": ..., "files": [...], "added_files": [...], "schema": ...}},
    "lineage": {...}}``; an 'append' member lists its parent's files plus
    the new ones, an 'overwrite' member only the new ones, an unnamed one is
    an append of nothing; lineage is the parent's updated with the commit's;
    the snap file is created once, by ``_publish`` (CAS). ``_manifest``
    parses it and ``Snapshot`` reads it; nothing else opens it."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._manifest_dir = os.path.join(root, "manifests")

    # ---------------------------------------------------------- write path

    def commit(
        self,
        tables: dict[str, tuple[DataFrame, str]],
        lineage: dict | None = None,
        parent: Snapshot | None = None,
    ) -> int:
        """tables: name → (df, mode) with mode in {'append', 'overwrite'}.
        Members absent from ``tables`` carry forward unchanged. Returns the
        new snapshot id, visible once ``_publish`` links the manifest.
        ``parent`` is the view the inputs were read at (empty for the empty
        group): the commit carries its members and lineage forward, and its
        id is the CAS's expected value, so if another commit has landed
        since, this one raises ConcurrentCommitError. The default, the view
        current at the call, suits a blind append."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        if parent is None:
            parent = self.snapshot()

        # Member writes are independent Spark jobs over disjoint data dirs;
        # submit them from driver threads so the scheduler overlaps them
        # (a group commit otherwise pays #members × job latency serially —
        # the dominant per-micro-batch floor in the streaming dedup fold).
        # Each thread runs with a copy of the caller's local properties (job
        # group, tags, description), so cancelling the caller's group or tag
        # stops its member writes too. The manifest is assembled after ALL
        # writes complete, in the caller's member order, so concurrency
        # never reaches visibility: the single link in ``_publish`` still
        # publishes all-or-nothing. No ``_SUCCESS`` marker is written: the
        # manifest is the commit point, and nothing reads the marker.
        def _write(name: str, df: DataFrame, mode: str) -> tuple[str, dict]:
            data_dir = os.path.join(self.root, "data", uuid.uuid4().hex)
            df.write.option(
                "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
            ).mode("overwrite").parquet(data_dir)
            new_files = _keep_files_with_rows(data_dir)
            carried = parent.files(name) if mode == "append" and parent.exists(name) else []
            return name, {
                "mode": mode,
                "files": carried + new_files,
                "added_files": new_files,
                "schema": df.schema.json(),
            }

        # a zero-member (carry-forward) commit still needs one worker
        with ThreadPoolExecutor(max_workers=max(1, len(tables))) as pool:
            futures = [
                pool.submit(inheritable_thread_target(df.sparkSession)(_write), name, df, mode)
                for name, (df, mode) in tables.items()
            ]
            entries = dict(f.result() for f in futures)
        for name in parent.members:
            if name not in entries:
                entries[name] = {"mode": "append", "files": parent.files(name),
                                 "added_files": [], "schema": parent.schema(name)}

        snap_id = (parent.id or 0) + 1
        manifest = {
            "snapshot": snap_id,
            "parent": parent.id,
            "tables": entries,
            "lineage": {**parent.lineage, **(lineage or {})},
        }
        self._publish(snap_id, manifest)
        return snap_id

    def _publish(self, snap_id: int, manifest: dict) -> None:
        """The commit point: write the manifest whole under a temp name that
        never matches ``snap-*.json``, then hard-link it to its snap name —
        atomic, and failing when the name exists (the CAS). Split out so
        crash-injection tests can kill the job right before visibility. A
        snapshot above the parent fails it too: expiry may have freed
        ``snap_id`` after a rival took it, and no reader would see a link to
        it. Rivals and an expiry that land between check and link still can."""
        tmp = os.path.join(self._manifest_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        try:
            if (self.current_snapshot() or 0) >= snap_id:
                raise FileExistsError(self._snap_path(snap_id))
            os.link(tmp, self._snap_path(snap_id))
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"snapshot {snap_id} or a later one committed in {self.root}; "
                "re-read the group and retry"
            ) from e
        finally:
            os.remove(tmp)

    # ----------------------------------------------------------- read path

    def table(self, name: str) -> GroupMember:
        return GroupMember(self, name)

    def _snap_path(self, snap_id: int) -> str:
        return os.path.join(self._manifest_dir, f"snap-{snap_id:08d}.json")

    def _snapshot_ids(self) -> list[int]:
        """The committed snapshot ids, ascending: one per ``snap-N.json``."""
        paths = glob.glob(os.path.join(self._manifest_dir, "snap-*.json"))
        return sorted(int(os.path.basename(p)[5:-5]) for p in paths)

    def current_snapshot(self) -> int | None:
        """The latest committed snapshot: the highest manifest id."""
        ids = self._snapshot_ids()
        return ids[-1] if ids else None

    def _manifest(self, snap_id: int) -> dict:
        with open(self._snap_path(snap_id)) as f:
            return json.load(f)

    def snapshot(self, snap_id: int | None = None) -> Snapshot:
        """Snapshot ``snap_id`` (default: the current one, empty if none),
        parsed once. Raises FileNotFoundError once it has expired."""
        if snap_id is None:
            snap_id = self.current_snapshot()
        if snap_id is None:
            return Snapshot(None, {"tables": {}, "lineage": {}})
        return Snapshot(snap_id, self._manifest(snap_id))

    # ---------------------------------------------------- maintenance ops

    def compact(
        self,
        spark: SparkSession,
        names: list[str] | None = None,
        target_file_mb: int = 128,
    ) -> int:
        """Small-file compaction (Iceberg's ``rewrite_data_files`` analog)
        for append-heavy members (the routed and metrics tables gain one
        file set per run): at scale scan cost is dominated by file COUNT
        (open/footer/seek per file), not bytes. Rewrite each named member's
        rows (default: every member) into ~``target_file_mb``-sized files
        and publish ONE new snapshot that overwrites them; untouched and
        empty members carry forward. Readers switch atomically; history
        (and time travel to pre-compaction snapshots) is preserved until
        ``expire_snapshots``. ``coalesce`` (not ``repartition``) —
        compaction must not pay a shuffle. The commit is against the
        snapshot compaction read, so an append that lands meanwhile fails
        it with ConcurrentCommitError instead of being dropped by the
        overwrite."""
        view = self.snapshot()
        if view.id is None:
            raise FileNotFoundError(f"no snapshot in {self.root}")
        names = names if names is not None else view.members
        dfs: dict[str, tuple[DataFrame, str]] = {}
        for n in names:
            files = view.files(n)
            if not files:
                continue
            total = sum(os.path.getsize(f) for f in files)
            n_out = max(1, round(total / (target_file_mb * 1024 * 1024)))
            dfs[n] = (view.read(spark, n).coalesce(n_out), "overwrite")
        # the group commit by name: SnapshotTable overrides ``commit`` with
        # its one-table form
        return TableGroup.commit(self, dfs, {"compacted_from": view.id}, parent=view)

    def expire_snapshots(
        self, keep_last: int = 2, orphan_min_age_sec: float = ORPHAN_MIN_AGE_SEC
    ) -> dict:
        """Iceberg's ``expire_snapshots`` + ``remove_orphan_files`` pair:
        drop manifests older than the newest ``keep_last`` snapshots, then
        delete every data dir referenced by NO surviving manifest.
        The current snapshot is always among the kept. Incremental
        reads/time travel older than the horizon stop working, exactly as
        in Iceberg. Returns {'expired': [...], 'deleted_files': n}.

        ``orphan_min_age_sec`` guards the concurrent-committer race
        (ADVICE r2): a live committer writes its data/<uuid> dirs BEFORE
        the manifest CAS, so a never-manifested dir younger than the
        threshold may be an in-flight commit, not a crash orphan — it is
        skipped (Iceberg's remove_orphan_files defaults to 3 days for
        exactly this). Dirs referenced only by the manifests being expired
        were committed and superseded — they delete regardless of age. A
        ``manifests/.tmp-*`` file a crash left in ``_publish`` is age-guarded."""
        ids = self._snapshot_ids()
        cut = max(0, len(ids) - max(1, keep_last))  # ids[:cut] expire
        referenced: set[str] = set()
        expired_refs: set[str] = set()
        for i, snap_id in enumerate(ids):
            refs = expired_refs if i < cut else referenced
            view = self.snapshot(snap_id)
            refs.update(f for name in view.members for f in view.files(name))
        for snap_id in ids[:cut]:
            os.remove(self._snap_path(snap_id))
        cutoff = time.time() - orphan_min_age_sec
        for tmp in glob.glob(os.path.join(self._manifest_dir, ".tmp-*")):
            with contextlib.suppress(FileNotFoundError):  # its commit removed it
                if os.path.getmtime(tmp) < cutoff:
                    os.remove(tmp)
        deleted = _gc_data_dir(
            os.path.join(self.root, "data"), referenced, expired_refs,
            orphan_min_age_sec,
        )
        return {"expired": ids[:cut], "deleted_files": deleted}


class SnapshotTable(TableGroup):
    """One table: a :class:`TableGroup` whose manifests hold the single
    member ``MEMBER``. Commit, publish, compaction and expiry are the
    group's; this class adds the one-table surface the storage contract
    suite names (``commit(df, mode, lineage)``, ``exists``, ``read``,
    ``lineage``, ``read_incremental``, ``incremental_files``), shared
    with ``IcebergTable``."""

    MEMBER = "table"

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        lineage: dict | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot, in a ``TableGroup.commit`` mode;
        returns the snapshot id."""
        return super().commit({self.MEMBER: (df, mode)}, lineage)

    def exists(self) -> bool:
        return self.snapshot().exists(self.MEMBER)

    def read(self, spark: SparkSession, snapshot: int | None = None) -> DataFrame:
        """Read the table as of ``snapshot`` (default: latest)."""
        return self.snapshot(snapshot).read(spark, self.MEMBER)

    def lineage(self) -> dict:
        return self.snapshot().lineage

    def read_incremental(
        self, spark: SparkSession, since: int | None
    ) -> DataFrame | None:
        """Rows added after snapshot ``since`` (None = everything).
        Returns None when nothing new."""
        _, files, schema = self.increment(since)
        return read_files(spark, files, schema) if files else None

    def incremental_files(self, since: int | None) -> list[str]:
        """The file list ``read_incremental(since)`` would scan, for
        metadata-only consumers (lineage)."""
        return self.increment(since)[1]

    def increment(self, since: int | None) -> tuple[int | None, list, str | None]:
        """``(snapshot, files, schema)``: the current snapshot, resolved once,
        and the files added after ``since`` up to it — all when None, else
        those the ``append`` commits added (a compaction rewrites older rows)
        — with their schema. Raises SnapshotExpiredError when ``since`` has
        expired; expiry takes the oldest snapshots, so all later ones exist."""
        ids = self._snapshot_ids()
        if not ids:
            return None, [], None
        if since is None:
            cur = self.snapshot(ids[-1])
            return cur.id, list(cur.files(self.MEMBER)), cur.schema(self.MEMBER)
        if since < ids[0]:
            raise SnapshotExpiredError(f"snapshot {since} of {self.root} has expired")
        later = [self.snapshot(s) for s in ids if s > since]
        files = [f for v in later for f in v.appended_files(self.MEMBER)]
        return ids[-1], files, later[-1].schema(self.MEMBER) if later else None


# ---------------------------------------------------------- bucketed layout


def write_bucketed(
    df,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Persist ``df`` in Spark's bucketed managed-table layout (the
    warehouse analog of an Iceberg ``bucket(N, col)`` partition transform):
    rows are hash-distributed into ``n_buckets`` files by ``bucket_col``
    and optionally sorted within each bucket.

    Why it matters at 100 TB: a table bucketed on its join/agg key carries
    its partitioning IN THE LAYOUT — every downstream
    join-on-key against another table bucketed the same way, and every
    groupBy(key), plans with ZERO shuffle Exchange (Catalyst reads the
    bucket spec from the catalog and reuses the distribution; with
    ``sort_cols`` the sort-merge join's sort disappears too). For the
    routed corpus re-read by doc_id-keyed consumers (dedup, packing,
    resume audits), bucketing converts the biggest recurring shuffle into
    a plain co-located scan. ``tests/test_bucketing.py`` asserts the
    shuffle-free plans.
    """
    w = df.write.format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode("overwrite").saveAsTable(table_name)
