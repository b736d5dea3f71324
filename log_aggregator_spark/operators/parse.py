"""Vectorized envelope parse — the pipeline's grok/regex stage.

The reference extracts (id, session, seq) from the cached-chunk filename with
a per-file regex match (``/root/reference/datadecoder/.../PBLogFile.java:17-27``,
pattern ``(.*)_(\\d*)_(\\d*)\\.pbData``). Here the same extraction runs as ONE
Arrow UDF over the envelope column: each Arrow batch reaches Python as a
``pa.Array``, is parsed by ``pyarrow.compute`` kernels in C++ and goes back
as a ``pa.StructArray`` — no pandas conversion either way, never per-row
Python (BASELINE.json ``input_hint``). The kernel matches the regex without
captures, so RE2 stays on its DFA, and splits the fields with a right
split: 0.026 CPU-s per 105k envelopes on a 4-vCPU VM, against 0.105 for a
capturing ``extract_regex``. A row whose numbers do not fit in int64 is a
reject, like a row that does not match.

``split_rejects`` is the one parse entry of ``run_pipeline``,
``job.run_job`` and ``stream_pipeline``. Its two streams are two plans, so
a caller that runs both evaluates the UDF twice; no caller caches the
parse, since the rejects plan reads one string column and a Python task
costs about 0.03 CPU-s.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import spec

_PARSE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("session", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _fits_int64(digits: pa.Array) -> pa.Array:
    """Which ASCII digit strings (leading zeros allowed) fit in int64: those
    with fewer than 19 significant digits, or 19 that order at or below
    2**63 - 1 as strings."""
    import pyarrow.compute as pc

    sig = pc.utf8_ltrim(digits, "0")
    n = pc.binary_length(sig)
    return pc.or_(pc.less(n, 19), pc.and_(pc.equal(n, 19), pc.less_equal(sig, str(2**63 - 1))))


@F.arrow_udf(_PARSE_SCHEMA)
def _parse_envelope_udf(env: pa.Array) -> pa.Array:
    """envelope batch → (doc_id, session, seq) struct batch. A row that
    does not match, or whose session or seq overflows int64, gets null
    fields."""
    import pyarrow.compute as pc

    # RE2 has no backtracking, and a match without captures runs on its
    # DFA. ``\d`` admits no ``_``, so the last two underscores of a match
    # fix the groups the way the reference's greedy Java ``(.*)`` resolves
    # them (PBLogFile.java:17-27): id = everything up to the LAST two _num
    # groups — a right split with two splits.
    ok = pc.match_substring_regex(env, spec.ENVELOPE_REGEX)
    stem = pc.utf8_slice_codeunits(pc.if_else(ok, env, None), 0, -len(".pbData"))
    parts = pc.split_pattern(stem, "_", max_splits=2, reverse=True)
    session, seq = pc.list_element(parts, 1), pc.list_element(parts, 2)
    fits = pc.and_(_fits_int64(session), _fits_int64(seq))
    return pa.StructArray.from_arrays(
        [
            pc.if_else(fits, pc.list_element(parts, 0), None),
            pc.cast(pc.if_else(fits, session, None), pa.int64()),
            pc.cast(pc.if_else(fits, seq, None), pa.int64()),
        ],
        names=["doc_id", "session", "seq"],
    )


# The UDF is pure, but declaring it nondeterministic stops Catalyst from
# pushing downstream filters through the struct-projection and re-evaluating
# the whole Arrow batch a second time (observed as two ArrowEvalPython nodes
# in the physical plan — 2x the Python cost of the parse stage).
_parse_envelope_udf = _parse_envelope_udf.asNondeterministic()


def parse_envelope(chunks: DataFrame) -> DataFrame:
    """chunks(envelope, chunk_tokens, source) →
    (doc_id, session, seq, chunk_tokens, source); a malformed envelope
    keeps its row, with null fields."""
    return chunks.withColumn("_p", _parse_envelope_udf(F.col("envelope"))).select(
        "_p.*", "chunk_tokens", "source"
    )


def split_rejects(chunks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: (parsed_ok, rejects). An envelope that fails the
    regex, or whose numbers overflow int64, parses to null fields; at 100
    TB silently dropping (or crashing on) malformed input is not an
    option — the reject stream keeps the original envelope + source for
    quarantine/audit, the ok stream carries parsed keys only. Each stream
    evaluates the UDF in its own plan; the rejects plan reads only
    ``envelope`` and ``source`` (the reference logs-and-skips unparseable
    cached files; here the skipped set is first-class data)."""
    tagged = chunks.withColumn("_p", _parse_envelope_udf(F.col("envelope")))
    ok = tagged.where(F.col("_p.doc_id").isNotNull()).select(
        "_p.*", "chunk_tokens", "source"
    )
    rejects = tagged.where(F.col("_p.doc_id").isNull()).select("envelope", "source")
    return ok, rejects


def encode_envelope(df: DataFrame) -> DataFrame:
    """Inverse of parse — the filename-encode operator (SURVEY.md §2 S4;
    /root/reference/agent/.../DataPumpImpl.java:87-89)."""
    return df.withColumn(
        "envelope",
        F.format_string(spec.ENVELOPE_FMT, F.col("doc_id"), F.col("session"), F.col("seq")),
    )
