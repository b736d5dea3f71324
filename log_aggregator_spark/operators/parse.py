"""Vectorized envelope parse — the pipeline's grok/regex stage.

The reference extracts (id, session, seq) from the cached-chunk filename with
a per-file regex match (``/root/reference/datadecoder/.../PBLogFile.java:17-27``,
pattern ``(.*)_(\\d*)_(\\d*)\\.pbData``). Here the same extraction runs as ONE
Arrow UDF over the envelope column: each Arrow batch reaches Python as a
``pa.Array``, RE2 (``pyarrow.compute.extract_regex``) matches it in C++ and
the (doc_id, session, seq) struct goes back as a ``pa.StructArray`` — no
pandas conversion either way, never per-row Python (BASELINE.json
``input_hint``).
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


@F.arrow_udf(_PARSE_SCHEMA)
def _parse_envelope_udf(env: pa.Array) -> pa.Array:
    """envelope batch → (doc_id, session, seq) struct batch. A non-matching
    envelope gets null fields."""
    import pyarrow.compute as pc

    ext = pc.extract_regex(env, spec.ENVELOPE_REGEX_NAMED)
    return pa.StructArray.from_arrays(
        [
            pc.cast(pc.struct_field(ext, "doc_id"), pa.string()),
            pc.cast(pc.struct_field(ext, "session"), pa.int64()),
            pc.cast(pc.struct_field(ext, "seq"), pa.int64()),
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
    (doc_id, session, seq, chunk_tokens, source)."""
    return tag_envelopes(chunks).select(
        F.col("_p.doc_id").alias("doc_id"),
        F.col("_p.session").alias("session"),
        F.col("_p.seq").alias("seq"),
        "chunk_tokens",
        "source",
    )


def tag_envelopes(chunks: DataFrame) -> DataFrame:
    """chunks plus ``_p``, the parsed (doc_id, session, seq) struct. An
    envelope that fails the regex gets a null ``_p.doc_id``. The one parse
    evaluation that ``split_tagged`` derives both streams from — a caller
    that caches this frame parses each envelope once."""
    return chunks.withColumn("_p", _parse_envelope_udf(F.col("envelope")))


def split_tagged(tagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(parsed_ok, rejects) from a ``tag_envelopes`` output."""
    ok = tagged.where(F.col("_p.doc_id").isNotNull()).select(
        F.col("_p.doc_id").alias("doc_id"),
        F.col("_p.session").alias("session"),
        F.col("_p.seq").alias("seq"),
        "chunk_tokens",
        "source",
    )
    rejects = tagged.where(F.col("_p.doc_id").isNull()).select("envelope", "source")
    return ok, rejects


def split_rejects(chunks: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: (parsed_ok, rejects). An envelope that fails the
    regex parses to null fields; at 100 TB silently dropping (or crashing
    on) malformed input is not an option — the reject stream keeps the
    original envelope + source for quarantine/audit, the ok stream carries
    parsed keys only. One pass over the parse output, no second regex
    evaluation (the reference logs-and-skips unparseable cached files; here
    the skipped set is first-class data)."""
    return split_tagged(tag_envelopes(chunks))


def encode_envelope(df: DataFrame) -> DataFrame:
    """Inverse of parse — the filename-encode operator (SURVEY.md §2 S4;
    /root/reference/agent/.../DataPumpImpl.java:87-89)."""
    return df.withColumn(
        "envelope",
        F.format_string(spec.ENVELOPE_FMT, F.col("doc_id"), F.col("session"), F.col("seq")),
    )
