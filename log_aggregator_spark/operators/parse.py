"""Vectorized envelope parse — the pipeline's grok/regex stage.

The reference extracts (id, session, seq) from the cached-chunk filename with
a per-file regex match (``/root/reference/datadecoder/.../PBLogFile.java:17-27``,
pattern ``(.*)_(\\d*)_(\\d*)\\.pbData``). Here the same extraction runs as ONE
Arrow-batched pandas UDF over the envelope column — ``pandas.Series.str.extract``
is a single vectorized C call per batch, never per-row Python (BASELINE.json
``input_hint``).

A pure-JVM variant (three ``regexp_extract`` calls, whole-stage codegen) is
provided as well; the pipeline default is chosen by benchmark (see bench.py).
"""

from __future__ import annotations

import pandas as pd
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


@F.pandas_udf(_PARSE_SCHEMA)
def _parse_envelope_udf(env: pd.Series) -> pd.DataFrame:
    """Arrow-native extraction: the batch goes straight back into a pyarrow
    StringArray and RE2 (`pyarrow.compute.extract_regex`) does the match in
    C++ — ~5-10x faster than pandas ``str.extract``, which loops Python
    ``re`` per element. Same named-group pattern, same null semantics
    (non-matching envelope → null fields)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.Array.from_pandas(env)
    ext = pc.extract_regex(arr, spec.ENVELOPE_REGEX_NAMED)
    doc_id = pc.struct_field(ext, "doc_id")
    session = pc.cast(pc.struct_field(ext, "session"), pa.int64())
    seq = pc.cast(pc.struct_field(ext, "seq"), pa.int64())
    return pd.DataFrame(
        {
            "doc_id": doc_id.to_pandas(),
            "session": session.to_pandas(),
            "seq": seq.to_pandas(),
        }
    )


# The UDF is pure, but declaring it nondeterministic stops Catalyst from
# pushing downstream filters through the struct-projection and re-evaluating
# the whole Arrow batch a second time (observed as two ArrowEvalPython nodes
# in the physical plan — 2x the Python cost of the parse stage).
_parse_envelope_udf = _parse_envelope_udf.asNondeterministic()


def parse_envelope(chunks: DataFrame, jvm: bool = False) -> DataFrame:
    """chunks(envelope, chunk_tokens, source) →
    (doc_id, session, seq, chunk_tokens, source)."""
    if jvm:
        parsed = chunks.select(
            F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 1).alias("doc_id"),
            F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 2).cast("long").alias("session"),
            F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 3).cast("long").alias("seq"),
            "chunk_tokens",
            "source",
        )
    else:
        parsed = chunks.withColumn("_p", _parse_envelope_udf(F.col("envelope"))).select(
            F.col("_p.doc_id").alias("doc_id"),
            F.col("_p.session").alias("session"),
            F.col("_p.seq").alias("seq"),
            "chunk_tokens",
            "source",
        )
    return parsed


def tag_envelopes(chunks: DataFrame, jvm: bool = False) -> DataFrame:
    """chunks plus ``_p``, the parsed (doc_id, session, seq) struct. An
    envelope that fails the regex gets a null ``_p.doc_id``. The one parse
    evaluation that ``split_tagged`` derives both streams from — a caller
    that caches this frame parses each envelope once."""
    if not jvm:
        return chunks.withColumn("_p", _parse_envelope_udf(F.col("envelope")))
    # Non-match detection keys on the seq group: ``(\d+)`` cannot match
    # empty, so ``regexp_extract(...) == ''`` ⇔ the envelope failed the
    # pattern. (doc_id's ``(.*)`` group legitimately matches empty —
    # '_3_7.pbData' is a valid envelope with doc_id '' — so nullif on
    # group 1 would reject it here while the Arrow path accepts it.)
    matched = F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 3) != F.lit("")
    return chunks.withColumn(
        "_p",
        F.struct(
            F.when(
                matched, F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 1)
            ).alias("doc_id"),
            F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 2)
            .cast("long").alias("session"),
            F.regexp_extract("envelope", spec.ENVELOPE_REGEX, 3)
            .cast("long").alias("seq"),
        ),
    )


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


def split_rejects(chunks: DataFrame, jvm: bool = False) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split: (parsed_ok, rejects). An envelope that fails the
    regex parses to null fields; at 100 TB silently dropping (or crashing
    on) malformed input is not an option — the reject stream keeps the
    original envelope + source for quarantine/audit, the ok stream carries
    parsed keys only. One pass over the parse output, no second regex
    evaluation (the reference logs-and-skips unparseable cached files; here
    the skipped set is first-class data)."""
    return split_tagged(tag_envelopes(chunks, jvm))


def encode_envelope(df: DataFrame) -> DataFrame:
    """Inverse of parse — the filename-encode operator (SURVEY.md §2 S4;
    /root/reference/agent/.../DataPumpImpl.java:87-89)."""
    return df.withColumn(
        "envelope",
        F.format_string(spec.ENVELOPE_FMT, F.col("doc_id"), F.col("session"), F.col("seq")),
    )
