"""Crash-point harness for the snapshot commit protocol (``tableio``).

Each case raises at the k-th filesystem call ``tableio`` makes inside one
operation — ``TableGroup.commit`` (``_publish`` included), ``compact`` or
``expire_snapshots`` — for k = 1, 2, ... until a run completes without
reaching k. Counted calls: every ``os``, ``os.path``, ``shutil`` and
``glob`` call that touches the filesystem, every ``open`` and every member
write. After the crash every later counted call raises too, as nothing
runs in a dead process. After each crash:

* every file a readable manifest lists still exists;
* the next pass (or commit) succeeds;
* the routed rows equal the single-run reassembly of every chunk, with
  nothing duplicated or lost.

Each k starts from the same on-disk state, restored from a copy, so a case
costs one crashed and one recovering operation per filesystem call.
"""

from __future__ import annotations

import os
import shutil
import threading
import types

import pandas as pd
import pyarrow.dataset as ds
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from log_aggregator_spark import tableio
from log_aggregator_spark.job import JobState, run_job
from log_aggregator_spark.operators.parse import encode_envelope
from log_aggregator_spark.oracle_pandas import reassemble_oracle
from log_aggregator_spark.tableio import SnapshotTable, TableGroup

from conftest import chunks_df

# path arithmetic: no filesystem access, so no crash point
_PURE = frozenset({"join", "basename", "dirname", "split", "splitext", "fspath"})

# (doc_id, session, seq, tokens, source): stream b has a gap at 2 in the
# first batch and one at 4 in the second, so the held cache moves too
_FIRST = [("a", 1, 1, [1], "s"), ("a", 1, 2, [2], "s"),
          ("b", 2, 1, [11], "s"), ("b", 2, 3, [13], "s")]
_SECOND = [("a", 1, 3, [3], "s"), ("b", 2, 2, [12], "s"), ("b", 2, 5, [15], "s")]


class Crash(Exception):
    pass


class CrashPoints:
    """Counts filesystem calls while armed with ``k`` and active; raises
    ``Crash`` at the k-th and at every one after it."""

    def __init__(self) -> None:
        self.k: int | None = None
        self.n = 0
        self.active = False
        self._lock = threading.Lock()

    def step(self) -> None:
        with self._lock:
            if self.k is None or not self.active:
                return
            self.n += 1
            if self.n >= self.k:
                raise Crash(f"crash at filesystem call {self.k}")

    def counted(self, fn):
        def call(*args, **kwargs):
            self.step()
            return fn(*args, **kwargs)

        return call

    def during(self, fn):
        """``fn`` with counting active for the length of each call."""

        def call(*args, **kwargs):
            self.active = True
            try:
                return fn(*args, **kwargs)
            finally:
                self.active = False

        return call


class _Counted:
    """``module`` with each filesystem call counted by ``points``."""

    def __init__(self, module, points: CrashPoints) -> None:
        self._module = module
        self._points = points

    def __getattr__(self, name):
        attr = getattr(self._module, name)
        if isinstance(attr, types.ModuleType):  # os.path
            return _Counted(attr, self._points)
        if callable(attr) and not isinstance(attr, type) and name not in _PURE:
            return self._points.counted(attr)
        return attr


@pytest.fixture()
def points(monkeypatch):
    p = CrashPoints()
    for name in ("os", "shutil", "glob"):
        monkeypatch.setattr(tableio, name, _Counted(getattr(tableio, name), p))
    monkeypatch.setattr(tableio, "open", p.counted(open), raising=False)
    monkeypatch.setattr(
        DataFrameWriter, "parquet", p.counted(DataFrameWriter.parquet)
    )
    return p


def _envelopes(spark, rows):
    return encode_envelope(chunks_df(spark, rows)).select(
        "envelope", "chunk_tokens", "source"
    )


def _setup(spark, root):
    """A chunks table holding both batches, a state that has processed the
    first, and routes."""
    routes = spark.createDataFrame(
        [("s", "sinkA", 0)], schema="source string, sink string, priority int"
    )
    ct = SnapshotTable(f"{root}/chunks")
    state = JobState(f"{root}/state")
    ct.commit(_envelopes(spark, _FIRST))
    assert run_job(spark, ct, routes, state)["status"] == "ok"
    ct.commit(_envelopes(spark, _SECOND))
    return ct, routes, state


def _assert_listed_files_exist(group: TableGroup) -> None:
    for snap in group._snapshot_ids():
        view = group.snapshot(snap)
        for name in view.members:
            missing = [f for f in view.files(name) if not os.path.exists(f)]
            assert not missing, (snap, missing)


def _assert_routed_is_oracle(group: TableGroup) -> None:
    """Routed token segments, concatenated in run order per stream, equal
    the single-run reassembly of both batches; no stream has two segments
    from one run."""
    files = group.snapshot().files("routed")
    routed = (
        ds.dataset(files, format="parquet")
        .to_table(columns=["doc_id", "session", "run_id", "tokens"])
        .to_pandas()
    )
    assert not routed.duplicated(["doc_id", "session", "run_id"]).any()
    got = {
        key: [t for seg in g.sort_values("run_id")["tokens"] for t in seg]
        for key, g in routed.groupby(["doc_id", "session"])
    }
    want = reassemble_oracle(pd.DataFrame(
        _FIRST + _SECOND,
        columns=["doc_id", "session", "seq", "chunk_tokens", "source"],
    ))
    assert got == {
        (r.doc_id, r.session): list(r.tokens) for r in want.itertuples()
    }


def _crash_every_step(points, root: str, state, op, recover) -> int:
    """Crash ``op`` at each counted filesystem call in turn, each time from
    the on-disk state under ``root`` as it was on entry, and check the
    state after the crash and after ``recover``. Returns the number of
    calls ``op`` makes."""
    pristine = f"{root}.pristine"
    shutil.copytree(root, pristine)
    k = 1
    while True:
        points.k, points.n = k, 0
        try:
            op()
            completed = True
        except Crash:
            completed = False
        finally:
            points.k = None
        _assert_listed_files_exist(state.group)
        recover()
        _assert_listed_files_exist(state.group)
        _assert_routed_is_oracle(state.group)
        if completed:
            assert points.n < k
            return points.n
        shutil.rmtree(root)
        shutil.copytree(pristine, root)
        k += 1


def test_crash_at_each_step_of_a_pass_commit(spark, tmp_path, points, monkeypatch):
    """A pass crashed at any filesystem call of its commit: either the
    commit point was reached (the next pass finds the input processed) or
    not (the next pass processes it once)."""
    ct, routes, state = _setup(spark, tmp_path)
    real_commit = TableGroup.commit
    counted_commit = points.during(real_commit)

    def commit(self, *args, **kwargs):
        fn = counted_commit if self.root == state.group.root else real_commit
        return fn(self, *args, **kwargs)

    monkeypatch.setattr(TableGroup, "commit", commit)
    steps = _crash_every_step(
        points, str(tmp_path / "state"), state,
        lambda: run_job(spark, ct, routes, state),
        lambda: run_job(spark, ct, routes, state),
    )
    # five member writes with their cleanup, then the publish
    assert steps >= 15
    assert all(n.startswith("snap-") for n in os.listdir(state.group._manifest_dir))


def test_crash_at_each_step_of_compact(spark, tmp_path, points):
    """A compaction crashed at any filesystem call leaves the routed rows
    readable and whole; the next compaction commits."""
    ct, routes, state = _setup(spark, tmp_path)
    run_job(spark, ct, routes, state)

    def compact():
        state.group.compact(spark, names=["routed"])

    steps = _crash_every_step(
        points, str(tmp_path / "state"), state, points.during(compact), compact
    )
    assert steps >= 10


def test_crash_at_each_step_of_expire(spark, tmp_path, points):
    """Expiry crashed at any filesystem call never deletes a file that a
    surviving manifest lists; the next expiry finishes the job."""
    ct, routes, state = _setup(spark, tmp_path)
    run_job(spark, ct, routes, state)
    state.group.compact(spark, names=["routed"])
    orphan = tmp_path / "state" / "group" / "data" / "crash-orphan"
    orphan.mkdir()
    (orphan / "part-00000.parquet").write_bytes(b"x")

    def expire():
        state.group.expire_snapshots(keep_last=1, orphan_min_age_sec=0)

    steps = _crash_every_step(
        points, str(tmp_path / "state"), state, points.during(expire), expire
    )
    assert steps >= 15
    assert state.group._snapshot_ids() == [3]
    assert not orphan.exists()
