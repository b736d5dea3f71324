"""Single source of truth for the deterministic chunk-derivation spec.

The pipeline's correctness gate compares the Spark implementation against a
DuckDB SQL oracle on the *same* parquet inputs, so every derivation rule here
must be expressible identically in both engines (integer arithmetic, md5,
regex — no engine-specific hashing, no floats where avoidable).

The derived tables mirror the reference's data model:

* ``sequences`` — the input shape mandated by BASELINE.json ``input_hint``:
  ``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.
  Tokens are the position counter ``[1..n_tok]`` — the analog of the
  reference's ``logGen`` counter lines (``/root/reference/src/test/logGen:1-8``)
  so "last token == length" invariants work like ``logCheck``
  (``/root/reference/src/test/logCheck:6-14``).
* ``chunks`` — the shipped-chunk table, the analog of ``LogPart`` protobuf
  records (``/root/reference/proto/src/main/proto/LoggerProtos.proto:27-33``)
  with the filename envelope ``{id}_{session}_{seq}.pbData``
  (``/root/reference/agent/.../dataPump/DataPumpImpl.java:87-89``).

Perturbations (each keyed on ``doc_id % MOD_*``) reproduce the decoder edge
cases the reference handles (or documents) but never unit-tests — see
SURVEY.md §5.
"""

# Chunk size: each chunk carries ≤ CHUNK tokens — the analog of the agent's
# 64 KiB read buffer (/root/reference/agent/.../LogAgent.java:27).
CHUNK = 16

# Session epoch base — "seconds since epoc" per the proto comment
# (/root/reference/proto/src/main/proto/LoggerProtos.proto:13); second
# sessions of a doc get SESSION_BASE + SESSION_STEP (strictly increasing per
# /root/reference/agent/.../PathProvider.java:36 semantics).
SESSION_BASE = 1_700_000_000
SESSION_STEP = 100

# Perturbation selectors (on the numeric doc id). Chosen pairwise coprime so
# combinations also occur (doc 0 hits all of them).
MOD_MULTISESSION = 5   # two sessions per doc (split the chunk run in half)
MOD_DUP = 7            # duplicate chunk (first session, seq 2) — must appear once
MOD_CKPT = 11          # checkpoint last_seq=1 for the first session (resume)
MOD_GAP = 13           # drop (first session, seq 3) — suffix must be held back
MOD_LOST_PREFIX = 17   # drop (first session, seq ≤ 2) — init rule accepts seq 3

# Routing: source 'srcK' → sink 'sink{K % N_SINKS}', priority K % N_PRIORITIES.
N_SINKS = 4
N_PRIORITIES = 3

# Envelope wire format, identical to the reference's cached-chunk filename
# {id}_{session}_{seq}.pbData and its parse regex
# (/root/reference/datadecoder/.../PBLogFile.java:17-27).
ENVELOPE_FMT = "%s_%d_%d.pbData"
# anchored at both ends: the reference full-matches (Matcher.matches()),
# while regex kernels (RE2, Spark, DuckDB) substring-match — without the $
# a 'x_1_2.pbData.bak' envelope would silently parse, and without the ^ a
# doc_id holding a newline would parse as its last line
ENVELOPE_REGEX = r"^(.*)_(\d+)_(\d+)\.pbData$"

DOC_ID_FMT = "doc%08d"


def expected_chunk_count(n_tok: int) -> int:
    return (n_tok + CHUNK - 1) // CHUNK
