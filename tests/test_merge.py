"""CDC merge (operators/merge.merge_upsert) semantics: last-writer-wins by
version, tombstone deletes, inserts, and the MERGE edge cases — delete of a
missing key, delete shadowed by a newer upsert, multi-batch version chains.
The sf-scale twin is the ``tbl_merge_upsert`` oracle gate."""

from __future__ import annotations

from log_aggregator_spark.operators.merge import merge_upsert


def _base(spark, rows):
    return spark.createDataFrame(rows, schema="k long, val string, n long")


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, schema="k long, val string, n long, version long, op string"
    )


def _rows(df):
    return {
        r["k"]: (r["val"], r["n"], r["version"])
        for r in df.collect()
    }


def test_upsert_insert_delete(spark):
    base = _base(spark, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    batch = _batch(
        spark,
        [
            (2, "b2", 21, 1, "U"),   # update
            (3, None, 0, 1, "D"),    # delete
            (4, "d", 40, 1, "U"),    # insert
        ],
    )
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == {
        1: ("a", 10, 0),
        2: ("b2", 21, 1),
        4: ("d", 40, 1),
    }


def test_delete_of_missing_key_is_noop(spark):
    base = _base(spark, [(1, "a", 10)])
    batch = _batch(spark, [(9, None, 0, 1, "D")])
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == {1: ("a", 10, 0)}


def test_newest_version_wins_over_delete(spark):
    # a delete at v1 followed by a re-insert at v2 in the same batch:
    # the argmax keeps v2, the row survives (MERGE's insert-after-delete)
    base = _base(spark, [(1, "a", 10)])
    batch = _batch(
        spark,
        [(1, None, 0, 1, "D"), (1, "a2", 11, 2, "U")],
    )
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == {1: ("a2", 11, 2)}


def test_delete_as_newest_wins_over_update(spark):
    base = _base(spark, [(1, "a", 10)])
    batch = _batch(
        spark,
        [(1, "a2", 11, 1, "U"), (1, None, 0, 2, "D")],
    )
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == {}


def test_delete_wins_equal_version_tie(spark):
    # contract violation: a 'D' and a 'U' share (key, version). The
    # documented convention is delete-wins-the-tie; the order struct ranks
    # deletes above upserts explicitly because raw op strings sort the
    # other way ('D' < 'U').
    base = _base(spark, [(1, "a", 10)])
    batch = _batch(
        spark,
        [(1, "a2", 11, 1, "U"), (1, None, 0, 1, "D")],
    )
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == {}


def test_delete_at_base_version_wins_tie(spark):
    # delete arriving at exactly the base version (0) beats the implicit
    # base row (delete-wins-tie); an upsert at version 0 loses to the base.
    base = _base(spark, [(1, "a", 10), (2, "b", 20)])
    batch = _batch(
        spark,
        [(1, None, 0, 0, "D"), (2, "b2", 21, 0, "U")],
    )
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == {2: ("b", 20, 0)}


def test_randomized_collisions_match_python_oracle(spark):
    """One seeded adversarial batch: many keys × versions × ops with
    deliberate (key, version) collisions, checked against a line-by-line
    Python transcription of the documented order (version, then rank
    delete=2 > base=1 > batch-upsert=0). Payloads are a function of
    (key, version, op) so even contract-violating ties carry identical
    payloads and the expected output is well-defined."""
    import random

    rng = random.Random(7)
    base_rows = [(k, f"b{k}", k * 10) for k in range(12)]
    batch_rows = []
    for _ in range(120):
        k = rng.randrange(16)            # keys 12..15 are pure inserts
        ver = rng.randrange(3)           # 0 collides with the base version
        op = rng.choice(["U", "U", "D"])
        batch_rows.append((k, f"{k}.{ver}.{op}", k * 10 + ver, ver, op))

    # python oracle: argmax per key over (version, rank)
    cand: dict[int, list] = {}
    for k, val, n in base_rows:
        cand.setdefault(k, []).append((0, 1, val, n, "U"))
    for k, val, n, ver, op in batch_rows:
        cand.setdefault(k, []).append((ver, 2 if op == "D" else 0, val, n, op))
    want = {}
    for k, rows in cand.items():
        ver, rank, val, n, op = max(rows, key=lambda r: (r[0], r[1]))
        if op != "D":
            want[k] = (val, n, max(r[0] for r in rows))

    base = _base(spark, base_rows)
    batch = _batch(spark, batch_rows)
    got = _rows(merge_upsert(base, batch, keys=["k"]))
    assert got == want
    # determinism: a reshuffled batch must produce the identical snapshot
    got2 = _rows(merge_upsert(base, _batch(spark, batch_rows[::-1]), keys=["k"]))
    assert got2 == got


def test_idempotent_replay(spark):
    # replaying the same batch over the merged result changes nothing —
    # the at-least-once delivery property the reference's overwrite-on-
    # rearrival save gives (LogServerController.java:115-129)
    base = _base(spark, [(1, "a", 10), (2, "b", 20)])
    batch = _batch(spark, [(1, "a2", 11, 1, "U"), (2, None, 0, 1, "D")])
    once = merge_upsert(base, batch, keys=["k"])
    twice = merge_upsert(once.select("k", "val", "n"), batch, keys=["k"])
    assert _rows(once) == _rows(twice)
