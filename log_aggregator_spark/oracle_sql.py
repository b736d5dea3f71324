"""DuckDB oracle SQL for the driver's correctness gate.

Every query in ``__spark_entry__.queries()`` has a DuckDB twin here, built on
one shared CTE prelude that re-derives the chunk table + decoder-gate
semantics with engine-portable constructs only (integer arithmetic, regexp,
list functions — both engines produce bit-identical values). The prelude is
the SQL statement of the same spec as ``chunker.py`` +
``operators/reassemble.py``; spec constants are interpolated from ``spec.py``
so the two cannot drift apart silently.

Portability rules used throughout this repo's oracles:
* token arrays → CSV strings (``concat_ws`` / ``array_to_string``) so the
  driver's value-hash sees identical scalars;
* every integer aggregate CAST to BIGINT (DuckDB sums to HUGEINT);
* no floats in compared columns unless integerized (×1000, floor);
* no engine hash functions except md5 (hex string, identical everywhere) —
  with ONE deliberate exception: ``mm_dedup_media`` uses sha256 (present and
  hex-identical in both engines, verified in the gate) because that digest
  picks a payload survivor and md5 collisions are constructible.
"""

from __future__ import annotations

from . import spec

C = spec.CHUNK
SB = spec.SESSION_BASE
SS = spec.SESSION_STEP

_ENV_RE = r"(.*)_(\d+)_(\d+)\.pbData$"  # end-anchored, mirrors spec.ENVELOPE_REGEX

# ---------------------------------------------------------------- prelude
# Mirrors chunker.chunks(perturb=True) + checkpoint_table + routes_table +
# operators.reassemble (gate flags) + enrich.
PRELUDE = f"""
WITH seqs AS (
  SELECT printf('doc%08d', doc_id) AS doc_id,
         doc_id AS dnum,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok,
         source
  FROM documents
),
halved AS (
  SELECT *,
         CASE WHEN dnum % {spec.MOD_MULTISESSION} = 0 AND n_chunks >= 2
              THEN CAST(ceil(n_chunks / 2.0) AS BIGINT) ELSE n_chunks END AS half
  FROM (SELECT *, CAST(ceil(n_tok / {C}.0) AS BIGINT) AS n_chunks FROM seqs)
),
keyed AS (
  SELECT doc_id, dnum, source,
         CAST({SB} + CASE WHEN k <= half THEN 0 ELSE {SS} END AS BIGINT) AS session,
         CAST(CASE WHEN k <= half THEN k ELSE k - half END AS BIGINT) AS seq,
         list_filter(range(1, n_tok + 1), t -> t > (k-1)*{C} AND t <= k*{C}) AS chunk_tokens
  FROM (SELECT *, unnest(range(1, n_chunks + 1)) AS k FROM halved)
),
chunks AS (
  SELECT printf('%s_%d_%d.pbData', doc_id, session, seq) AS envelope,
         chunk_tokens, source
  FROM (
    SELECT * FROM keyed
    UNION ALL
    SELECT * FROM keyed
    WHERE dnum % {spec.MOD_DUP} = 0 AND session = {SB} AND seq = 2
  ) u
  WHERE NOT (session = {SB} AND dnum % {spec.MOD_GAP} = 0 AND seq = 3)
    AND NOT (session = {SB} AND dnum % {spec.MOD_LOST_PREFIX} = 0 AND seq <= 2)
),
parsed AS (
  SELECT regexp_extract(envelope, '{_ENV_RE}', 1) AS doc_id,
         CAST(regexp_extract(envelope, '{_ENV_RE}', 2) AS BIGINT) AS session,
         CAST(regexp_extract(envelope, '{_ENV_RE}', 3) AS BIGINT) AS seq,
         chunk_tokens, source
  FROM chunks
),
ckpt AS (
  SELECT doc_id, CAST({SB} AS BIGINT) AS session, CAST(1 AS BIGINT) AS last_seq
  FROM seqs WHERE dnum % {spec.MOD_CKPT} = 0
),
dedup AS (
  SELECT DISTINCT doc_id, session, seq, chunk_tokens, source FROM parsed
),
live AS (
  SELECT d.*, coalesce(c.last_seq, 0) AS last_seq
  FROM dedup d LEFT JOIN ckpt c USING (doc_id, session)
),
pos AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, session ORDER BY seq) AS rn,
         min(seq) OVER (PARTITION BY doc_id, session) AS first_seq
  FROM live
  WHERE seq > greatest(last_seq, 0)
),
flagged AS (
  SELECT doc_id, session, seq, chunk_tokens, source,
         (seq - rn = first_seq - 1 AND (last_seq = 0 OR first_seq = last_seq + 1)) AS accepted
  FROM pos
  UNION ALL
  SELECT doc_id, session, seq, chunk_tokens, source, TRUE AS accepted
  FROM live WHERE seq = 0 AND last_seq = 0
),
reassembled AS (
  SELECT doc_id, session,
         flatten(list(chunk_tokens ORDER BY seq)) AS tokens,
         CAST(sum(len(chunk_tokens)) AS BIGINT) AS n_tok,
         min(source) AS source,
         CAST(greatest(max(seq), 0) AS BIGINT) AS last_seq_out
  FROM flagged WHERE accepted
  GROUP BY doc_id, session
),
routes AS (
  SELECT DISTINCT source,
         'sink' || CAST(CAST(substr(source, 4, 10) AS INTEGER) % {spec.N_SINKS} AS VARCHAR) AS sink,
         CAST(CAST(substr(source, 4, 10) AS INTEGER) % {spec.N_PRIORITIES} AS BIGINT) AS priority
  FROM documents
),
enriched AS (
  SELECT r.doc_id, r.session, r.tokens, r.n_tok, r.source, t.sink, t.priority
  FROM reassembled r JOIN routes t USING (source)
)
"""

# ---------------------------------------------------------------- queries
PIPELINE_SQL: dict[str, str] = {
    "pipeline_parse": PRELUDE
    + """
SELECT doc_id, session, seq,
       array_to_string(chunk_tokens, ',') AS chunk_csv,
       CAST(len(chunk_tokens) AS BIGINT) AS n_chunk_tok,
       source
FROM parsed
""",
    "pipeline_reassemble": PRELUDE
    + """
SELECT doc_id, session, array_to_string(tokens, ',') AS tokens_csv,
       n_tok, source, last_seq_out
FROM reassembled
""",
    "pipeline_enriched": PRELUDE
    + """
SELECT doc_id, session, array_to_string(tokens, ',') AS tokens_csv,
       n_tok, source, sink, priority
FROM enriched
""",
    "pipeline_sink_counts": PRELUDE
    + """
SELECT sink, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM enriched GROUP BY sink
""",
    "pipeline_source_counts": PRELUDE
    + """
SELECT source, sink, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_tok) AS BIGINT) AS sum_n_tok
FROM enriched GROUP BY source, sink
""",
    "pipeline_held_back": PRELUDE
    + """
SELECT doc_id, session, seq FROM flagged WHERE NOT accepted
""",
    "pipeline_checkpoint_out": PRELUDE
    + """
SELECT doc_id, session, last_seq_out AS last_seq FROM reassembled
""",
}

# Dead-letter: the Spark side unions real chunks with synthesized corrupt
# envelopes and must reject EXACTLY the corrupt set (mirrors
# entry_queries.q_pipeline_rejects).
PIPELINE_SQL["pipeline_rejects"] = """
SELECT 'garbage-' || CAST(doc_id AS VARCHAR) AS envelope, source
FROM documents WHERE doc_id % 10 = 0
"""

# Run-splitting invariance: the Spark side computes TWO checkpointed passes
# and concatenates; the oracle is the ordinary SINGLE-pass reassembly — the
# equality IS the resume contract (two-pass ≡ one-pass).
PIPELINE_SQL["pipeline_resume"] = PIPELINE_SQL["pipeline_reassemble"]

# ------------------------------------------------- text / dedup oracles
# Mirrors functions/text.py + functions/dedup.py. Loops generate the
# bit/nibble arithmetic so the SQL cannot drift from the Spark expressions.

from .functions.dedup import DF_CAP  # noqa: E402
from .functions.dedup import SPAN_WORDS as _SPAN_W  # noqa: E402
from .functions.text import (  # noqa: E402
    DECON_NGRAM as _DECON_N,
    DOMAIN_QUOTA_K,
    EMAIL_RE,
    LANG_PROFILES,
    PACK_BUCKETS,
    PACK_CTX,
    PHONE_RE,
    REP_MAX_DUPW_X1000,
    REP_MAX_TOP2_X1000,
    STOPWORDS,
    TFIDF_SCALE,
    TFIDF_TOPK,
    VOCAB_TOPN,
)
from .functions.events import FUNNEL_STEPS as _FUNNEL_STEPS  # noqa: E402
from .functions.text import _cell_nibbles  # noqa: E402


def _hash_cell_sql(col_sql: str, nibbles: int) -> str:
    """SQL twin of text.hash_cell(col, nibbles): the first ``nibbles`` hex
    nibbles of md5 as one integer, generated per nibble so the expression
    cannot drift from the Spark recipe (hash_cell docstring)."""
    terms = [
        f"(strpos('0123456789abcdef', substr(md5({col_sql}), {i + 1}, 1)) - 1)"
        + (f" * {16 ** (nibbles - 1 - i)}" if i < nibbles - 1 else "")
        for i in range(nibbles)
    ]
    return "(" + " + ".join(terms) + ")"
from .functions.events import (  # noqa: E402
    INTERVAL_PAD_SEC as _IV_PAD,
    PER_MINUTE_LIMIT as _PER_MIN,
    SESSION_GAP_SEC as _SESS_GAP,
)

# regex literals for SQL interpolation: single-quote-escape only (patterns
# contain no quotes today; the escape keeps that a non-event)
_EMAIL_RE_SQL = EMAIL_RE.replace("'", "''")
_PHONE_RE_SQL = PHONE_RE.replace("'", "''")

_HEX = "0123456789abcdef"

# sh3c = the df-capped shingle set (mirrors dedup._capped_shingles); the cap
# constant is interpolated from the SAME module the Spark plan reads.
_TEXT_PRELUDE_BODY = r"""w AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(text), '\s+') AS words
  FROM documents
),
sh3 AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words)-2, 1) + 1)) AS i
        FROM w)
),
sh3c AS (
  SELECT doc_id, shingle FROM sh3
  WHERE shingle IN (SELECT shingle FROM sh3 GROUP BY 1 HAVING count(*) <= __DFCAP__)
),
sh4 AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+3], ' ') AS shingle
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words)-3, 1) + 1)) AS i
        FROM w)
)""".replace("__DFCAP__", str(DF_CAP))

TEXT_PRELUDE = "\nWITH " + _TEXT_PRELUDE_BODY + "\n"


def _in_list(items) -> str:
    return ", ".join(f"'{x}'" for x in items)


def _simhash_val_expr(h: str = "h") -> str:
    """((0*16+n1)*16+n2)*16... — identical shape to dedup._word_val16."""
    expr = "0"
    for i in range(4):
        expr = f"({expr}) * 16 + (strpos('{_HEX}', substr({h}, {i + 1}, 1)) - 1)"
    return expr


# Shared generated fragments (used by both the per-family queries and the
# dedup_clusters union-graph oracle, so the two cannot drift).
_MINHASH_SIG = ", ".join(f"min(md5('{i}|' || shingle)) AS h{i}" for i in range(8))
_MINHASH_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, CAST({b} AS BIGINT) AS band, md5(h{2*b} || h{2*b+1}) AS key FROM sig"
    for b in range(4)
)
_SIM_BITS_SUMS = ", ".join(
    f"sum(CASE WHEN CAST(floor(val / {2**j}) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
    for j in range(16)
)
_SIM_COMBINE = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16)
)
_SIM_BANDS = "\n  UNION ALL ".join(
    f"SELECT doc_id, simhash, CAST({b} AS BIGINT) AS band, "
    f"CAST(floor(simhash / {2**(4*b)}) AS BIGINT) % 16 AS bits FROM sim"
    for b in range(4)
)

# CTE chain producing the simhash near-pair set (needs w from the prelude).
_SIMHASH_PAIR_CTES = f"""wv AS (
  SELECT doc_id, {_simhash_val_expr("md5(word)")} AS val
  FROM (SELECT doc_id, unnest(list_distinct(words)) AS word FROM w)
),
bits AS (SELECT doc_id, {_SIM_BITS_SUMS} FROM wv GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({_SIM_COMBINE} AS BIGINT) AS simhash FROM bits),
sbk AS (
  {_SIM_BANDS}
),
simhash_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM sbk a JOIN sbk b
    ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
)"""

# CTE chain producing the minhash band keys / LSH candidate set (needs sh3c).
_MINHASH_BK_CTES = f"""sig AS (SELECT doc_id, {_MINHASH_SIG} FROM sh3c GROUP BY doc_id),
mbk AS (
  {_MINHASH_BANDS}
)"""
_MINHASH_PAIR_CTES = (
    _MINHASH_BK_CTES
    + """,
minhash_pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM mbk a JOIN mbk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)"""
)


# Full CTE chain computing duplicate clusters (shared by dedup_clusters and
# dedup_survivors): union pair graph → recursive min-reach closure.
_CLUSTERS_CTES = (
    "WITH RECURSIVE "
    + _TEXT_PRELUDE_BODY
    + f""",
{_MINHASH_PAIR_CTES},
{_SIMHASH_PAIR_CTES},
ek AS (SELECT md5(lower(trim(text))) AS key, doc_id FROM documents),
exact_pairs AS (
  SELECT m.canon AS doc_a, e.doc_id AS doc_b
  FROM ek e JOIN (SELECT key, min(doc_id) AS canon FROM ek GROUP BY key) m USING (key)
  WHERE e.doc_id > m.canon
),
pairs AS (
  SELECT doc_a, doc_b FROM exact_pairs
  UNION SELECT doc_a, doc_b FROM minhash_pairs
  UNION SELECT doc_a, doc_b FROM simhash_pairs
  WHERE bit_count(xor(sim_a, sim_b)) <= 3
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(doc, peer) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.doc, e.dst FROM reach r JOIN edges e ON r.peer = e.src
),
clusters AS (
  SELECT CAST(doc AS BIGINT) AS doc_id, CAST(min(peer) AS BIGINT) AS cluster_id
  FROM reach GROUP BY doc
)"""
)


def _text_sql() -> dict[str, str]:
    langs = sorted(LANG_PROFILES)
    c_cols = ", ".join(
        f"len(list_filter(lw, x -> x IN ({_in_list(LANG_PROFILES[lang])}))) AS c_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"c_{lang}" for lang in langs) + ")"
    pred = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN c_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " END"

    return {
        "text_token_count": TEXT_PRELUDE
        + """
SELECT doc_id, CAST(len(words) AS BIGINT) AS n_tok,
       CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
       CAST(length(text) AS BIGINT) AS n_chars
FROM w
""",
        "text_quality": TEXT_PRELUDE
        + f"""
SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
       CAST(floor(1000.0 * length(regexp_replace(text, '\\s+', '', 'g')) / len(words)) AS BIGINT) AS avg_word_len_x1000,
       CAST(floor(1000.0 * len(list_filter(words, x -> x IN ({_in_list(STOPWORDS)}))) / len(words)) AS BIGINT) AS stopword_x1000,
       CAST(length(text) AS BIGINT) AS n_chars
FROM w
""",
        "text_langid": TEXT_PRELUDE
        + f"""
, scored AS (
  SELECT doc_id, lang, {c_cols}
  FROM (SELECT doc_id, lang,
               regexp_split_to_array(trim(lower(text)), '\\s+') AS lw
        FROM documents)
)
SELECT doc_id, pred_lang, CAST(lang = pred_lang AS BIGINT) AS is_match
FROM (SELECT doc_id, lang, {pred} AS pred_lang FROM scored)
""",
        "text_fingerprint": TEXT_PRELUDE
        + """
SELECT d.doc_id, md5(lower(trim(d.text))) AS fp, m.fp_min_shingle
FROM documents d
JOIN (SELECT doc_id, min(md5(shingle)) AS fp_min_shingle
      FROM sh4 GROUP BY doc_id) m USING (doc_id)
""",
        "dedup_exact": """
SELECT md5(lower(trim(text))) AS key,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc
FROM documents GROUP BY 1
""",
        "dedup_ngram_jaccard": TEXT_PRELUDE
        + """
, sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh3c GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh3c a JOIN sh3c b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(sa.n_sh + sb.n_sh - inter AS BIGINT) AS uni
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 2 * inter >= 1 * (sa.n_sh + sb.n_sh - inter)
""",
        "dedup_minhash_lsh": TEXT_PRELUDE
        + f"""
, {_MINHASH_BK_CTES}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_bands
FROM mbk a JOIN mbk b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY 1, 2
""",
        "dedup_simhash": TEXT_PRELUDE
        + f"""
, wv AS (
  SELECT doc_id, {_simhash_val_expr("md5(word)")} AS val
  FROM (SELECT doc_id, unnest(list_distinct(words)) AS word FROM w)
),
bits AS (SELECT doc_id, {_SIM_BITS_SUMS} FROM wv GROUP BY doc_id)
SELECT doc_id, CAST({_SIM_COMBINE} AS BIGINT) AS simhash FROM bits
""",
        "dedup_simhash_pairs": TEXT_PRELUDE
        + f"""
, {_SIMHASH_PAIR_CTES}
SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS BIGINT) AS hamming
FROM simhash_pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3
""",
        "dedup_clusters": _CLUSTERS_CTES
        + """
SELECT doc_id, cluster_id,
       CAST(doc_id = cluster_id AS BIGINT) AS is_canonical
FROM clusters
""",
        # survivor re-pick by quality (longest doc wins, tie → min doc_id)
        "dedup_survivors": _CLUSTERS_CTES
        + r"""
, qn AS (
  SELECT doc_id, CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_words
  FROM documents
)
SELECT cluster_id, survivor_doc, n_docs, survivor_n_words
FROM (
  SELECT c.cluster_id,
         c.doc_id AS survivor_doc,
         CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS n_docs,
         qn.n_words AS survivor_n_words,
         row_number() OVER (PARTITION BY c.cluster_id
                            ORDER BY qn.n_words DESC, c.doc_id) AS rn
  FROM clusters c JOIN qn USING (doc_id)
) WHERE rn = 1
""",
        "text_vocab": TEXT_PRELUDE
        + f"""
, wds AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
  FROM documents
)
SELECT word, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM wds GROUP BY word
ORDER BY n_occurrences DESC, word LIMIT {VOCAB_TOPN}
""",
        # non-distinct n-grams (occurrence counts) — mirrors text.ngram_counts,
        # incl. the short-tail gram for docs with < n words
        "text_ngram_counts": f"""
WITH lw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(words[i:i+1], ' ') AS ngram
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words)-1, 1) + 1)) AS i
        FROM lw)
)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM grams GROUP BY ngram
ORDER BY n_occurrences DESC, ngram LIMIT {VOCAB_TOPN}
""",
        # PII scrub over the same deterministic synthesized-PII derivation
        # as entry_queries.q_text_pii_scrub; patterns interpolated from the
        # SAME text.EMAIL_RE/PHONE_RE constants (RE2 ∩ Java subset); 'g'
        # flag because DuckDB regexp_replace is first-match by default
        # while Spark's replaces all
        "text_pii_scrub": """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or 555-' || printf('%04d', doc_id % 10000)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '__EMAIL__', 0)) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '__PHONE__', 0)) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '__EMAIL__', '<EMAIL>', 'g'),
                          '__PHONE__', '<PHONE>', 'g')) AS scrub_md5
FROM d
""".replace("__EMAIL__", _EMAIL_RE_SQL).replace("__PHONE__", _PHONE_RE_SQL),
        # 8-gram benchmark decontamination (mirrors text.decontaminate over
        # the 3/16 hash-sample split of entry_queries.q_text_decontaminate)
        "text_decontaminate": f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
  FROM documents
),
g AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+{_DECON_N - 1}], ' ') AS gram
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words)-{_DECON_N - 1}, 1) + 1)) AS i
        FROM w)
),
bench AS (
  SELECT DISTINCT gram FROM g
  WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1)) - 1 >= 13
),
train AS (
  SELECT * FROM g
  WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),1,1)) - 1 < 13
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams
FROM train JOIN bench USING (gram)
GROUP BY doc_id
""",
        # Gopher repetition rules — mirrors text.repetition_stats (n=2);
        # thresholds interpolated from the same constants the Spark plan uses
        "text_repetition": f"""
WITH lw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
),
grams AS (
  SELECT doc_id, len(words) AS nw, len(list_distinct(words)) AS ndw,
         array_to_string(words[i:i+1], ' ') AS ngram
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words)-1, 1) + 1)) AS i
        FROM lw)
),
per AS (
  SELECT doc_id, ngram, count(*) AS c,
         any_value(nw) AS nw, any_value(ndw) AS ndw
  FROM grams GROUP BY doc_id, ngram
),
agg AS (
  SELECT doc_id, max(c) AS top_c, sum(c) AS total,
         any_value(nw) AS nw, any_value(ndw) AS ndw
  FROM per GROUP BY doc_id
)
SELECT doc_id,
       CAST(floor(1000.0 * top_c / total) AS BIGINT) AS top_ngram_x1000,
       CAST(floor(1000.0 * (nw - ndw) / nw) AS BIGINT) AS dup_word_x1000,
       CAST(floor(1000.0 * top_c / total) <= {REP_MAX_TOP2_X1000}
            AND floor(1000.0 * (nw - ndw) / nw) <= {REP_MAX_DUPW_X1000}
            AS BIGINT) AS keep
FROM agg
""",
        # per-domain quota — mirrors text.domain_quota (the de-skewed
        # two-phase top-k collapses to a plain rank in SQL semantics)
        "text_domain_quota": f"""
WITH qn AS (
  SELECT doc_id, source,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_words
  FROM documents
)
SELECT source, CAST(rank AS BIGINT) AS rank, doc_id, n_words
FROM (
  SELECT source, doc_id, n_words,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_words DESC, doc_id) AS rank
  FROM qn
) WHERE rank <= {DOMAIN_QUOTA_K}
""",
        # weighted corpus mixing — mirrors text.corpus_mix default policy
        "text_corpus_mix": """
WITH base AS (
  SELECT source,
         (strpos('0123456789abcdef', substr(md5(source), 1, 1)) - 1) % 8 + 1
           AS rate_16ths,
         CASE WHEN strpos('0123456789abcdef',
                          substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
                   < (strpos('0123456789abcdef',
                             substr(md5(source), 1, 1)) - 1) % 8 + 1
              THEN 1 ELSE 0 END AS kept
  FROM documents
)
SELECT source, CAST(rate_16ths AS BIGINT) AS rate_16ths,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(kept) AS BIGINT) AS n_kept
FROM base GROUP BY source, rate_16ths
""",
        # sequence packing — mirrors text.pack_sequences (per-bucket
        # running token sum, integer div/mod cut points; bucket from a
        # headroom-nibble hash cell so any buckets value shards uniformly)
        "text_pack_sequences": f"""
WITH sized AS (
  SELECT doc_id,
         CAST({_hash_cell_sql("CAST(doc_id AS VARCHAR)", _cell_nibbles(PACK_BUCKETS))}
              % {PACK_BUCKETS} AS BIGINT) AS bucket,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, bucket, n_tok,
         coalesce(sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_prev
  FROM sized
)
SELECT doc_id, bucket,
       CAST(cum_prev // {PACK_CTX} AS BIGINT) AS pack_id,
       CAST(cum_prev % {PACK_CTX} AS BIGINT) AS offset_in_pack, n_tok
FROM cum
""",
        # tf-idf top terms — mirrors text.tfidf_top_terms (integer score)
        "text_tfidf": f"""
WITH terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms WHERE term <> '' GROUP BY 1, 2
),
dfx AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         CAST((t.tf * {TFIDF_SCALE} * n.n_docs) // d.df AS BIGINT) AS score
  FROM tf t JOIN dfx d USING (term), n
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, df, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rank
  FROM scored
) WHERE rank <= {TFIDF_TOPK}
""",
        # block exact-substring dedup — mirrors dedup.span_dedup (k=8)
        "dedup_span": f"""
WITH lw AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS words
  FROM documents
),
inst AS (
  SELECT doc_id, len(words) AS nw, i AS idx,
         array_to_string(words[i*{_SPAN_W}+1 : i*{_SPAN_W}+{_SPAN_W}], ' ')
           AS block
  FROM (SELECT doc_id, words,
               unnest(range(0, CAST(ceil(len(words)/{_SPAN_W}.0) AS BIGINT)))
                 AS i
        FROM lw)
),
flagged AS (
  SELECT *, ((idx + 1) * {_SPAN_W} <= nw) AS is_full FROM inst
),
win AS (
  SELECT block, doc_id AS w_doc, idx AS w_idx
  FROM (SELECT block, doc_id, idx,
               row_number() OVER (PARTITION BY block
                                  ORDER BY doc_id, idx) AS rn
        FROM flagged WHERE is_full)
  WHERE rn = 1
),
kept AS (
  SELECT f.doc_id, f.idx, f.block
  FROM flagged f LEFT JOIN win w USING (block)
  WHERE NOT f.is_full OR (f.doc_id = w.w_doc AND f.idx = w.w_idx)
),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         md5(string_agg(block, ' ' ORDER BY idx)) AS dedup_md5
  FROM kept GROUP BY doc_id
)
SELECT l.doc_id,
       CAST(ceil(len(l.words)/{_SPAN_W}.0) AS BIGINT) AS n_spans,
       CAST(ceil(len(l.words)/{_SPAN_W}.0) - coalesce(r.n_kept, 0) AS BIGINT)
         AS n_dropped,
       coalesce(r.dedup_md5, md5('')) AS dedup_md5
FROM lw l LEFT JOIN reb r USING (doc_id)
""",
        # incremental near-dup vs the stored LSH index — mirrors
        # entry_queries.q_dedup_incremental_lsh (one hashing of the
        # universe, nib<13 = index side, nib>=13 = probe batch)
        "dedup_incremental_lsh": TEXT_PRELUDE
        + f"""
, {_MINHASH_BK_CTES},
nibs AS (
  SELECT doc_id,
         strpos('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
  FROM documents
),
hits AS (
  SELECT b.doc_id, CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_hits
  FROM mbk b
  JOIN nibs nb ON b.doc_id = nb.doc_id AND nb.nib >= 13
  JOIN mbk c ON b.band = c.band AND b.key = c.key
  JOIN nibs nc ON c.doc_id = nc.doc_id AND nc.nib < 13
  GROUP BY 1
)
SELECT n.doc_id,
       CAST(coalesce(h.n_corpus_hits, 0) AS BIGINT) AS n_corpus_hits,
       CAST(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
         AS survives
FROM nibs n LEFT JOIN hits h USING (doc_id)
WHERE n.nib >= 13
""",
        # incremental batch-vs-corpus dedup — mirrors
        # entry_queries.q_dedup_incremental's deterministic split + echoes
        "dedup_incremental": """
WITH d AS (
  SELECT doc_id, text,
         strpos('0123456789abcdef',
                substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 AS nib
  FROM documents
),
corpus AS (SELECT doc_id, text FROM d WHERE nib < 13),
fresh  AS (SELECT doc_id, text FROM d WHERE nib >= 13),
batch AS (
  SELECT doc_id, text FROM fresh
  UNION ALL SELECT doc_id + 1000000, text FROM corpus WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + 2000000, text FROM fresh  WHERE doc_id % 5 = 0
),
cfp AS (SELECT DISTINCT md5(lower(trim(text))) AS fp FROM corpus),
bfp AS (SELECT md5(lower(trim(text))) AS fp, doc_id FROM batch)
SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, fp,
       CAST(count(*) AS BIGINT) AS n_batch_dups
FROM bfp b
WHERE NOT EXISTS (SELECT 1 FROM cfp c WHERE c.fp = b.fp)
GROUP BY fp
""",
    }


TEXT_SQL: dict[str, str] = _text_sql()

# ------------------------------------------------- similarity oracles
# Mirrors functions/similarity.py. The hyperplane/centroid literals are
# interpolated from the SAME module-level constants the Spark plan embeds
# (integer-valued ×10⁶ doubles). Vectors are quantized with round_even —
# DuckDB's half-to-even, matching Spark rint / numpy rint — so every dot
# product is an exact sum of integers < 2⁵³ and all three compute paths
# (this SQL, the JVM fold, the Arrow matmul kernels) agree bitwise; see
# the similarity module header for the exactness argument.

from .functions import similarity as _sim  # noqa: E402

_QVEC = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    f"x -> round_even(x * {_sim.QUANT}, 0))"
)

# the quantized-vector CTE with the _vecs exclusions (similarity._vecs
# drops the same rows at the same boundary — sim_norm_stats is the one
# query that deliberately keeps zero vectors):
#   - zero-norm (cosine undefined);
#   - any NULL or non-finite component (the engines genuinely disagree on
#     NaN ordering — numpy NaN >= 0 is False while Spark/DuckDB order NaN
#     greatest — so such rows must die before any kernel sees them).
# NULL components are scrubbed to NaN INSIDE the quantize transform, not
# filtered beside the dot product: DuckDB's list_dot_product hard-errors
# on NULL elements and the vectorized executor evaluates WHERE conjuncts
# (and even CASE branches) on all rows, so a sibling predicate cannot
# guard it. Post-scrub the finite filter removes both, in any evaluation
# order, and a whole-NULL vector gives a NULL dot -> row dropped.
_QVEC_SCRUB = (
    "list_transform(CAST(embedding AS DOUBLE[]), "
    f"x -> round_even(coalesce(x, 'NaN'::DOUBLE) * {_sim.QUANT}, 0))"
)
_D_NZ = (
    "d AS (SELECT vec_id, v FROM "
    f"(SELECT vec_id, {_QVEC_SCRUB} AS v FROM embeddings)\n"
    "       WHERE len(list_filter(v, x -> NOT isfinite(x))) = 0\n"
    "         AND list_dot_product(v, v) > 0)"
)

_SIM_PRELUDE = f"""
WITH {_D_NZ},
n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM d),
p AS (
  SELECT a.vec_id, b.vec_id AS nb_id,
         list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS sim
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
)
"""


def _plane_lit(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


# deterministic query-vector sample predicate (similarity._query_sample)
_QSAMPLE_PRED = (
    "strpos('0123456789abcdef', substr(md5(CAST({col} AS VARCHAR)), 1, 1)) - 1 "
    f"< {_sim.QUERY_SAMPLE_16THS}"
)


def _bucket_expr(b: int, v: str = "v") -> str:
    """Band b's packed bucket key — mirrors similarity._bucket_col."""
    terms = [
        f"CASE WHEN list_dot_product({v}, "
        f"{_plane_lit(_sim.PLANES[b * _sim.BITS_PER_BAND + j])}) >= 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j in range(_sim.BITS_PER_BAND)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def _similarity_sql() -> dict[str, str]:
    bands = "\n  UNION ALL ".join(
        f"SELECT vec_id, v, n2, CAST({b} AS BIGINT) AS band, "
        f"{_bucket_expr(b)} AS bucket FROM n"
        for b in range(_sim.N_BANDS)
    )
    banded = f", bk AS (\n  {bands}\n)"
    # multi-probe expansion of the probe (query) side — mirrors
    # similarity.lsh_probe_keys: base bucket + one-bit flips
    masks = [0] + [1 << j for j in range(_sim.BITS_PER_BAND)]
    if _sim.MULTIPROBE:
        banded += f""",
pk AS (
  SELECT vec_id, v, n2, band, xor(bucket, CAST(m AS BIGINT)) AS bucket
  FROM bk, (SELECT unnest({masks}) AS m)
)"""
        probe_side = "pk"
    else:
        probe_side = "bk"
    # Candidate pairs are found on ids alone and the vectors joined back
    # (vec_id is unique in n). Carrying the vectors through the pair
    # aggregate as any_value(v) gives the same values, but DuckDB 1.0 then
    # holds ~12 GB for sim_lsh_topk's 90k pairs of 64-dim vectors.
    pair_vecs = "JOIN n na ON na.vec_id = c.vec_id JOIN n nb ON nb.vec_id = c.nb_id"
    pair_sim = "list_dot_product(na.v, nb.v) / sqrt(na.n2 * nb.n2)"
    return {
        "sim_brute_topk": _SIM_PRELUDE
        + f"""
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id,
       CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1m
FROM (
  SELECT vec_id, nb_id AS neighbor_id, sim,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
  FROM p
) WHERE rank <= {_sim.TOPK}
""",
        "sim_cosine_near_dup": _SIM_PRELUDE
        + f"""
SELECT vec_id AS vec_a, nb_id AS vec_b,
       CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1m
FROM p WHERE vec_id < nb_id AND sim >= {_sim.NEAR_DUP_TAU}
""",
        "sim_lsh_signature": f"WITH {_D_NZ}\n"
        + "\nUNION ALL ".join(
            f"SELECT vec_id, CAST({b} AS BIGINT) AS band, {_bucket_expr(b)} AS bucket FROM d"
            for b in range(_sim.N_BANDS)
        ),
        "sim_lsh_pairs": f"""
WITH {_D_NZ},
n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM d)
{banded}
SELECT vec_a, vec_b, n_bands,
       CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1m
FROM (
  SELECT c.vec_id AS vec_a, c.nb_id AS vec_b, c.n_bands,
         {pair_sim} AS sim
  FROM (
    SELECT a.vec_id, b.vec_id AS nb_id, CAST(count(*) AS BIGINT) AS n_bands
    FROM {probe_side} a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                       AND a.vec_id < b.vec_id
    GROUP BY a.vec_id, b.vec_id
  ) c {pair_vecs}
) WHERE sim >= {_sim.LSH_TAU}
""",
        "sim_lsh_topk": f"""
WITH {_D_NZ},
n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM d)
{banded}
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM (
  SELECT vec_id, nb_id AS neighbor_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
  FROM (
    SELECT c.vec_id, c.nb_id, {pair_sim} AS sim
    FROM (
      SELECT DISTINCT a.vec_id, b.vec_id AS nb_id
      FROM {probe_side} a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                         AND a.vec_id <> b.vec_id
    ) c {pair_vecs}
  )
) WHERE rank <= {_sim.LSH_TOPK}
""",
        # recall over the deterministic 4/16 query-vector sample (mirrors
        # similarity._query_sample) ranked against the full corpus
        "sim_lsh_recall": _SIM_PRELUDE
        + f"""{banded},
truth AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, nb_id AS neighbor_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
    FROM p
    WHERE {_QSAMPLE_PRED.format(col="vec_id")}
  ) WHERE rank <= {_sim.LSH_TOPK}
),
approx AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, nb_id AS neighbor_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
    FROM (
      SELECT c.vec_id, c.nb_id, {pair_sim} AS sim
      FROM (
        SELECT DISTINCT a.vec_id, b.vec_id AS nb_id
        FROM {probe_side} a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.vec_id <> b.vec_id
        WHERE {_QSAMPLE_PRED.format(col="a.vec_id")}
      ) c {pair_vecs}
    )
  ) WHERE rank <= {_sim.LSH_TOPK}
),
j AS (
  SELECT t.vec_id, CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t LEFT JOIN approx a USING (vec_id, neighbor_id)
)
SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(floor(1000.0 * sum(hit) / count(*)) AS BIGINT) AS recall_x1000
FROM j
""",
    }


def _centroid_lit(c: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in c) + "]"


def _ivf_sql() -> dict[str, str]:
    """IVF oracles — mirrors similarity.{ivf_assign, ivf_topk, ivf_recall}.
    Cell scores are structs (s, nc=-cell); list_sort DESC is lexicographic
    (score desc, cell asc) in BOTH engines (Spark sort_array verified
    against DuckDB list_sort on ties), so argmax/top-nprobe are the sorted
    head/slice. Centroid literals interpolated from the same CENTROIDS
    constant the Spark plan embeds."""
    score_structs = ", ".join(
        f"struct_pack(s := list_dot_product(v, {_centroid_lit(_sim.CENTROIDS[c])}), "
        f"nc := CAST({-c} AS BIGINT))"
        for c in range(_sim.K_CELLS)
    )
    base = f"""
WITH {_D_NZ},
scored AS (
  SELECT vec_id, v, list_sort([{score_structs}], 'DESC') AS sc FROM d
),
assign AS (SELECT vec_id, CAST(-sc[1].nc AS BIGINT) AS cell FROM scored),
probes AS (
  SELECT vec_id, CAST(-p.nc AS BIGINT) AS cell
  FROM scored, unnest(sc[1:{_sim.NPROBE}]) AS t(p)
),
n AS (SELECT vec_id, v, list_dot_product(v, v) AS n2 FROM d),
cand AS (
  SELECT p.vec_id, a.vec_id AS nb_id,
         list_dot_product(qa.v, qb.v) / sqrt(qa.n2 * qb.n2) AS sim
  FROM probes p
  JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id
  JOIN n qa ON qa.vec_id = p.vec_id
  JOIN n qb ON qb.vec_id = a.vec_id
)
"""
    topk_core = f"""
SELECT vec_id, CAST(rank AS BIGINT) AS rank, neighbor_id
FROM (
  SELECT vec_id, nb_id AS neighbor_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
  FROM cand
) WHERE rank <= {_sim.LSH_TOPK}
"""
    return {
        "sim_ivf_assign": base + "SELECT vec_id, cell FROM assign",
        "sim_ivf_topk": base + topk_core,
        # Lloyd-iteration reduce: per (cell, dim) component sums — the
        # components ARE the quantized integers in d.v. mirrors
        # similarity.centroid_update. generate_subscripts expands in
        # lockstep with unnest in DuckDB's select list.
        "sim_centroid_update": base + """
SELECT cell, dim, CAST(sum(ei) AS BIGINT) AS sum_x1m,
       CAST(count(*) AS BIGINT) AS n_members
FROM (
  SELECT a.cell AS cell,
         CAST(generate_subscripts(d.v, 1) - 1 AS BIGINT) AS dim,
         CAST(unnest(d.v) AS BIGINT) AS ei
  FROM assign a JOIN d USING (vec_id)
)
GROUP BY 1, 2
""",
        # one full Lloyd iteration: refit centroids from the assignment,
        # re-assign to nearest refit centroid — mirrors
        # similarity.kmeans_iterate (argmax tie rule: score desc, cell asc;
        # row_number here because DuckDB's struct max is not lexicographic)
        "sim_kmeans_iterate": base + """,
upd AS (
  SELECT cell, dim, CAST(sum(ei) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT a.cell AS cell,
           CAST(generate_subscripts(d.v, 1) - 1 AS BIGINT) AS dim,
           CAST(unnest(d.v) AS BIGINT) AS ei
    FROM assign a JOIN d USING (vec_id)
  )
  GROUP BY 1, 2
),
cents AS (
  SELECT cell AS c_cell,
         list((CAST(s AS DOUBLE) / n) / 1000000.0 ORDER BY dim) AS c_v
  FROM upd GROUP BY cell
)
SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
  SELECT d.vec_id, c.c_cell AS cell,
         row_number() OVER (
           PARTITION BY d.vec_id
           ORDER BY list_dot_product(d.v, c.c_v) DESC, c.c_cell
         ) AS rn
  FROM d, cents c
) WHERE rn = 1
""",
        # SemDeDup-style semantic near-dup: same-cell pairs, exact cosine
        # re-rank — mirrors similarity.semantic_near_dup
        "sim_semantic_near_dup": base + f"""
SELECT vec_a, vec_b, cell, CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1m
FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cell,
         list_dot_product(qa.v, qb.v) / sqrt(qa.n2 * qb.n2) AS sim
  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  JOIN n qa ON qa.vec_id = a.vec_id
  JOIN n qb ON qb.vec_id = b.vec_id
) WHERE sim >= {_sim.NEAR_DUP_TAU}
""",
        "sim_ivf_recall": base + f""",
p AS (
  SELECT a.vec_id, b.vec_id AS nb_id,
         list_dot_product(a.v, b.v) / sqrt(a.n2 * b.n2) AS sim
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
),
truth AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, nb_id AS neighbor_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
    FROM p
    WHERE {_QSAMPLE_PRED.format(col="vec_id")}
  ) WHERE rank <= {_sim.LSH_TOPK}
),
approx AS (
  SELECT vec_id, neighbor_id FROM (
    SELECT vec_id, nb_id AS neighbor_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, nb_id) AS rank
    FROM cand WHERE {_QSAMPLE_PRED.format(col="vec_id")}
  ) WHERE rank <= {_sim.LSH_TOPK}
),
j AS (
  SELECT t.vec_id, CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM truth t LEFT JOIN approx a USING (vec_id, neighbor_id)
)
SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(sum(hit) AS BIGINT) AS n_hits,
       CAST(floor(1000.0 * sum(hit) / count(*)) AS BIGINT) AS recall_x1000
FROM j
""",
    }


SIMILARITY_SQL: dict[str, str] = _similarity_sql()
SIMILARITY_SQL.update(_ivf_sql())

# ------------------------------------------------- multimodal oracles
# Mirrors functions/multimodal.py (deterministic fake media payloads:
# MAGIC(4 bytes) + utf8(text); checksum = sum of unicode codepoints).

_MM_PRELUDE = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN 'img' ELSE 'aud' END AS fmt,
         CAST(n_chars % 64 + 1 AS BIGINT) AS width,
         CAST((n_chars // 64) % 64 + 1 AS BIGINT) AS height,
         CAST(octet_length(encode(text)) + 4 AS BIGINT) AS n_bytes,
         CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
         CASE WHEN length(text) = 0 THEN 0
              ELSE CAST(list_aggregate(
                     list_transform(string_split(text, ''), c -> unicode(c)),
                     'sum') AS BIGINT) END AS checksum
  FROM documents
),
mf AS (
  SELECT *,
         (payload_bytes + width * height - 1) // (width * height) AS n_frames
  FROM m
)
"""

FILTER_SQL: dict[str, str] = {
    "text_quality_filter": TEXT_PRELUDE
    + f"""
, q AS (
  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
         CAST(floor(1000.0 * length(regexp_replace(text, '\\s+', '', 'g')) / len(words)) AS BIGINT) AS awl,
         CAST(floor(1000.0 * len(list_filter(words, x -> x IN ({_in_list(STOPWORDS)}))) / len(words)) AS BIGINT) AS stop
  FROM w
)
SELECT doc_id,
       CAST(n_words >= 10 AND stop >= 50 AND awl BETWEEN 2000 AND 12000 AS BIGINT) AS keep,
       n_words
FROM q
""",
    "text_sample_stratified": """
SELECT doc_id, source
FROM documents
WHERE strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1 < 4
""",
}

# ------------------------------------------------- CDC merge oracle
# Mirrors operators/merge.merge_upsert over the deterministic change batch
# entry_queries.q_tbl_merge_upsert builds (doc_id%13 → delete, %7 → update,
# %17 → insert under doc_id+10⁷). The oracle states MERGE the declarative
# way (anti-membership + surviving batch rows); the Spark side proves the
# union + max_by(payload, version) single-shuffle decomposition.
MERGE_SQL: dict[str, str] = {
    "tbl_merge_upsert": """
WITH batch AS (
  SELECT doc_id, lang, 'patched' AS source, n_chars + 1000 AS n_chars,
         1 AS version, 'U' AS op
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id, lang, source, n_chars, 1, 'D'
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id + 10000000, lang, 'inserted', n_chars, 1, 'U'
  FROM documents WHERE doc_id % 17 = 0
),
merged AS (
  SELECT doc_id, lang, source, n_chars, 0 AS version FROM documents
  WHERE doc_id NOT IN (SELECT doc_id FROM batch)
  UNION ALL
  SELECT doc_id, lang, source, n_chars, version FROM batch WHERE op <> 'D'
)
SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(version AS BIGINT) AS version
FROM merged
""",
}

# ------------------------------------------------- events oracles
# Mirrors functions/events.py. Timestamps → epoch seconds (BIGINT); floats
# integerized floor(×100 / ×1000).

_FUNNEL_WINDOW = (
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id\n"
    "               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
)


def _funnel_sql(steps: tuple[str, ...]) -> str:
    """DuckDB twin of events.funnel_steps, generated from the SAME step
    tuple the Spark code reads — per-CTE windows mirror the chained
    ``min(... at-or-after previous reach)`` exactly."""
    ctes = [
        "s AS (\n  SELECT user_id, event_id, event_type, epoch(ts) AS sec, ts"
        " FROM events\n)"
    ]
    prev = "s"
    for i, step in enumerate(steps):
        cond = f"event_type = '{step}'"
        if i > 0:
            cond += f" AND reach{i - 1} <= sec"
        ctes.append(
            f"r{i} AS (\n  SELECT *, min(CASE WHEN {cond} THEN sec END)"
            f" OVER w AS reach{i}\n  FROM {prev}\n  {_FUNNEL_WINDOW}\n)"
        )
        prev = f"r{i}"
    hits = ",\n         ".join(
        f"max(CASE WHEN reach{i} IS NOT NULL THEN 1 ELSE 0 END) AS h{i}"
        for i in range(len(steps))
    )
    sums = ", ".join(f"sum(h{i}) AS n{i}" for i in range(len(steps)))
    rows = "\n  UNION ALL ".join(
        f"SELECT {i + 1} AS step_idx, '{step}' AS step, n{i} AS n_users, n0"
        " FROM c"
        for i, step in enumerate(steps)
    )
    cte_sql = ",\n".join(ctes)
    return f"""
WITH {cte_sql},
pu AS (
  SELECT user_id,
         {hits}
  FROM {prev} GROUP BY 1
),
c AS (SELECT {sums} FROM pu)
SELECT CAST(step_idx AS BIGINT) AS step_idx, step,
       CAST(n_users AS BIGINT) AS n_users,
       CAST(coalesce(floor(n_users * 1000.0 / n0), -1) AS BIGINT)
         AS permille_of_first
FROM (
  {rows}
)
"""


EVENTS_SQL: dict[str, str] = {
    "ev_tumbling_counts": """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_x100
FROM events GROUP BY 1, 2
""",
    "ev_sessionize": """
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
idx AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_idx
  FROM gaps
)
SELECT user_id, session_idx,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS start_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS end_epoch
FROM idx GROUP BY 1, 2
""",
    "ev_topk_users": """
SELECT CAST(rank AS BIGINT) AS rank, user_id, n_events, total_value_x100
FROM (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(round(sum(value) * 100) AS BIGINT) AS total_value_x100,
         row_number() OVER (ORDER BY round(sum(value) * 100) DESC, user_id) AS rank
  FROM events GROUP BY user_id
) WHERE rank <= 10
""",
    "ev_error_rate": """
SELECT hour_epoch, n_events, n_errors,
       CAST(floor(n_errors * 1000.0 / n_events) AS BIGINT) AS error_permille
FROM (
  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors
  FROM events GROUP BY 1
)
""",
    "ev_props_extract": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(max(CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
    # percentiles over PRE-integerized values (×100) so both engines
    # interpolate over exact integers with the same (n-1)·p rank formula
    "ev_percentiles": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(floor(quantile_cont(v, 0.5) * 10) AS BIGINT) AS p50_x1000,
       CAST(floor(quantile_cont(v, 0.95) * 10) AS BIGINT) AS p95_x1000
FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
GROUP BY event_type
""",
    # discrete-percentile twin of the approx_percentile path: at test scale
    # the GK sketch is lossless (group < accuracy), and its returned element
    # matches quantile_disc's smallest-rank-≥⌈p·n⌉ convention exactly
    "ev_percentiles_approx": """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(quantile_disc(v, 0.5) AS BIGINT) AS p50_x100,
       CAST(quantile_disc(v, 0.95) AS BIGINT) AS p95_x100
FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events)
GROUP BY event_type
""",
    # pure integer cross-multiplication: n·n_hours > factor·total
    "ev_spikes": """
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
totals AS (
  SELECT event_type, CAST(sum(n_events) AS BIGINT) AS total_events,
         CAST(count(*) AS BIGINT) AS n_hours
  FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hour_epoch, h.n_events,
       CAST(h.n_events * t.n_hours > 2 * t.total_events AS BIGINT) AS is_spike
FROM hourly h JOIN totals t USING (event_type)
""",
    "ev_windowed_topk": """
SELECT hour_epoch, CAST(rank AS BIGINT) AS rank, event_type, n_events
FROM (
  SELECT hour_epoch, event_type, n_events,
         row_number() OVER (PARTITION BY hour_epoch
                            ORDER BY n_events DESC, event_type) AS rank
  FROM (
    SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
           event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
  )
) WHERE rank <= 3
""",
    # as-of enrichment — mirrors events.asof_enrich (window formulation,
    # same (ts, event_id) total order and strict 1-PRECEDING frame)
    "ev_asof_enrich": """
WITH seq AS (
  SELECT event_id, user_id, event_type, epoch(ts) AS sec,
         last_value(CASE WHEN event_type = 'click' THEN epoch(ts) END
                    IGNORE NULLS) OVER w AS csec,
         last_value(CASE WHEN event_type = 'click'
                         THEN CAST(round(value * 100) AS BIGINT) END
                    IGNORE NULLS) OVER w AS cval
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       CAST(floor(sec) AS BIGINT) AS err_epoch,
       CAST(coalesce(floor(csec), -1) AS BIGINT) AS click_epoch,
       CAST(coalesce(cval, -1) AS BIGINT) AS click_value_x100,
       CAST(coalesce(floor(sec - csec), -1) AS BIGINT) AS lag_sec
FROM seq WHERE event_type = 'error'
""",
    # ordered funnel — generated from events.FUNNEL_STEPS (sequential
    # window chain: reach_k counts only at-or-after reach_{k-1}) so the
    # step list cannot drift from the Spark expression
    "ev_funnel": _funnel_sql(_FUNNEL_STEPS),
    # column profiling — mirrors events.profile_columns (canonical strings)
    "ev_profile": """
WITH u AS (
  SELECT 'event_type' AS col, event_type AS val FROM events
  UNION ALL
  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'value', CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
  FROM events
  UNION ALL
  SELECT 'props', props FROM events
)
SELECT col, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
       min(val) AS min_val, max(val) AS max_val
FROM u GROUP BY col
""",
    # day-over-day retention — mirrors events.retention (lead, no self-join)
    "ev_retention": """
WITH daily AS (
  SELECT DISTINCT
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
         user_id
  FROM events
),
flagged AS (
  SELECT day_epoch,
         CASE WHEN lead(day_epoch) OVER (PARTITION BY user_id
                                         ORDER BY day_epoch)
                   = day_epoch + 86400 THEN 1 ELSE 0 END AS retained
  FROM daily
)
SELECT day_epoch, CAST(count(*) AS BIGINT) AS n_active,
       CAST(sum(retained) AS BIGINT) AS n_retained,
       CAST(floor(sum(retained) * 1000.0 / count(*)) AS BIGINT)
         AS retained_permille
FROM flagged GROUP BY 1
""",
    # bucketed interval join — mirrors events.session_error_impact; the
    # oracle states the range join directly (DuckDB's IEJoin handles it),
    # the Spark side proves the bucketed equi-join decomposition
    "ev_interval_errors": f"""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > {_SESS_GAP}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
idx AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS session_idx
  FROM gaps
),
iv AS (
  SELECT user_id, session_idx,
         min(epoch(ts)) - {_IV_PAD} AS lo,
         max(epoch(ts)) + {_IV_PAD} AS hi,
         CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch
  FROM idx GROUP BY 1, 2
),
err AS (SELECT epoch(ts) AS err_sec FROM events WHERE event_type = 'error')
SELECT user_id, session_start_epoch,
       CAST(count(err_sec) AS BIGINT) AS n_errors
FROM iv LEFT JOIN err ON err.err_sec >= iv.lo AND err.err_sec <= iv.hi
GROUP BY 1, 2
""",
    # trailing-7-day rolling distinct actives — mirrors
    # events.rolling_active_users (distinct pairs → day-offset explode)
    "ev_rolling_active": """
WITH pairs AS (
  SELECT DISTINCT
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
         user_id
  FROM events
),
anchors AS (
  SELECT p.user_id, p.day_epoch + 86400 * o.off AS day_epoch
  FROM pairs p, (SELECT unnest(range(0, 7)) AS off) o
)
SELECT a.day_epoch, CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active_7d
FROM anchors a
JOIN (SELECT DISTINCT day_epoch FROM pairs) r ON r.day_epoch = a.day_epoch
GROUP BY 1
""",
    # daily new vs returning users — mirrors events.new_users_daily
    "ev_new_users": """
WITH pairs AS (
  SELECT DISTINCT
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS day_epoch,
         user_id
  FROM events
),
actives AS (
  SELECT day_epoch, CAST(count(*) AS BIGINT) AS n_active
  FROM pairs GROUP BY 1
),
news AS (
  SELECT first_day AS day_epoch, CAST(count(*) AS BIGINT) AS n_new
  FROM (SELECT user_id, min(day_epoch) AS first_day FROM pairs GROUP BY 1)
  GROUP BY 1
)
SELECT a.day_epoch,
       CAST(coalesce(n.n_new, 0) AS BIGINT) AS n_new,
       CAST(a.n_active - coalesce(n.n_new, 0) AS BIGINT) AS n_returning
FROM actives a LEFT JOIN news n ON n.day_epoch = a.day_epoch
""",
    # S16 throttle audit — mirrors events.throttle_audit
    "ev_throttle_audit": f"""
WITH m AS (
  SELECT user_id, date_trunc('minute', ts) AS minute, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id, CAST(max(n) AS BIGINT) AS peak_per_min,
       CAST(count(*) AS BIGINT) AS n_active_minutes,
       CAST(sum(CASE WHEN n >= {_PER_MIN} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_throttled_minutes,
       CAST(max(n) >= {_PER_MIN} AS BIGINT) AS throttled
FROM m GROUP BY 1
""",
}

MM_SQL: dict[str, str] = {
    "mm_media_meta": _MM_PRELUDE
    + """
SELECT doc_id, fmt, width, height, n_bytes FROM m
""",
    "mm_decode_features": _MM_PRELUDE
    + """
SELECT doc_id, fmt, n_bytes, payload_bytes, checksum,
       CAST(n_frames AS BIGINT) AS n_frames
FROM mf
""",
    "mm_frame_sample": _MM_PRELUDE
    + """
SELECT doc_id,
       CAST(unnest(range(0, greatest(n_frames - 1, 0) + 1, 2)) AS BIGINT) AS frame_idx
FROM mf
""",
    "mm_format_stats": _MM_PRELUDE
    + """
SELECT fmt, CAST(count(*) AS BIGINT) AS n_objects,
       CAST(sum(payload_bytes) AS BIGINT) AS total_payload_bytes,
       CAST(sum(n_frames) AS BIGINT) AS total_frames,
       CAST(max(n_frames) AS BIGINT) AS max_frames
FROM mf GROUP BY fmt
""",
}


# ---- session additions: media dedup, distinct users, length buckets ----

MM_SQL["mm_dedup_media"] = """
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 9 = 0
)
SELECT sha256('FAKE' || text) AS content_sha,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS canonical_doc_id
FROM u
GROUP BY sha256('FAKE' || text)
"""

# ---- perceptual media near-dup: mirrors multimodal.media_near_dup -----
# Feature/plane/band constants interpolated from the SAME multimodal
# module constants the Spark kernels embed; the fake codec's feature
# (centered bigram-hash histogram) re-derived in SQL over the payload's
# source text. Exact integer arithmetic throughout (module note).

from .functions import multimodal as _mm  # noqa: E402


_MM_FV = "[" + ", ".join(
    f"CAST({_mm.MM_FDIM} * count(*) FILTER (nib = {b}) - count(*) AS DOUBLE)"
    for b in range(_mm.MM_FDIM)
) + "]"

# planes as a VALUES table, not 64 inline constant-list CASE expressions —
# DuckDB's planner OOMs compiling that many wide literal expressions; one
# constant table + a (doc × plane) group-by computes the identical buckets
_MM_PLANES_VALUES = ",\n    ".join(
    f"({i}, [{', '.join(repr(x) for x in _mm.MM_PLANES[i])}])"
    for i in range(_mm.MM_BANDS * _mm.MM_BITS_PER_BAND)
)

MM_SQL["mm_near_dup"] = f"""
WITH ws AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws
            FROM documents),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i + 1])) AS gram
       FROM ws),
nb AS (SELECT doc_id, {_hash_cell_sql("gram", 2)} AS nib FROM bg),
fv AS (SELECT doc_id, {_MM_FV} AS v FROM nb GROUP BY doc_id),
n AS (SELECT doc_id, v, list_dot_product(v, v) AS n2 FROM fv
      WHERE list_dot_product(v, v) > 0),
planes(p_idx, p) AS (VALUES
    {_MM_PLANES_VALUES}),
bk AS (
  SELECT n.doc_id, CAST(p.p_idx // {_mm.MM_BITS_PER_BAND} AS BIGINT) AS band,
         CAST(sum(CASE WHEN list_dot_product(n.v, p.p) >= 0
                       THEN 1 << (p.p_idx % {_mm.MM_BITS_PER_BAND})
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM n, planes p
  GROUP BY n.doc_id, p.p_idx // {_mm.MM_BITS_PER_BAND}
)
SELECT doc_a, doc_b, n_bands,
       CAST(floor(sim * 1000000) AS BIGINT) AS sim_x1m
FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_bands,
         list_dot_product(any_value(na.v), any_value(nb2.v))
           / sqrt(any_value(na.n2) * any_value(nb2.n2)) AS sim
  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                     AND a.doc_id < b.doc_id
  JOIN n na ON na.doc_id = a.doc_id
  JOIN n nb2 ON nb2.doc_id = b.doc_id
  GROUP BY a.doc_id, b.doc_id
) WHERE sim >= {_mm.MM_TAU}
"""

EVENTS_SQL["ev_distinct_users"] = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type
"""

# The oracle asserts the exact side AND that the sketch landed inside the
# tolerance (hll_within_tol is constant-true on the oracle side; the Spark
# side EARNS it by comparing approx_count_distinct to exact — same gate
# pattern as sim_lsh_recall).
EVENTS_SQL["ev_hll_distinct"] = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_exact,
       CAST(1 AS BIGINT) AS hll_within_tol
FROM events GROUP BY event_type
"""

TEXT_SQL["text_length_buckets"] = """
WITH t AS (
  SELECT len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok FROM documents
),
g AS (
  SELECT length(bin(n_tok)) - 1 AS bucket_pow,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS sum_tok
  FROM t GROUP BY 1
)
SELECT CAST(bucket_pow AS BIGINT) AS bucket_pow,
       CAST(1::BIGINT << bucket_pow AS BIGINT) AS bucket_lo,
       n_docs, sum_tok,
       CAST(sum_tok * 1000000 // (SELECT sum(sum_tok) FROM g) AS BIGINT) AS share_ppm
FROM g
"""


# Containment prelude: the sh3c pipeline applied to the snippet-augmented
# union corpus (mirrors q_dedup_containment's synthesis; cap constant from
# the same module as the Spark plan).
TEXT_SQL["dedup_containment"] = r"""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         array_to_string((regexp_split_to_array(trim(text), '\s+'))[1:12], ' ') AS text
  FROM documents WHERE doc_id % 11 = 0
),
uw AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words FROM u
),
ush AS (
  SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS shingle
  FROM (SELECT doc_id, words,
               unnest(range(1, greatest(len(words)-2, 1) + 1)) AS i
        FROM uw)
),
ushc AS (
  SELECT doc_id, shingle FROM ush
  WHERE shingle IN (SELECT shingle FROM ush GROUP BY 1 HAVING count(*) <= __DFCAP__)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM ushc GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
  FROM ushc a JOIN ushc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       CAST(sa.n_sh AS BIGINT) AS na, CAST(sb.n_sh AS BIGINT) AS nb,
       CAST(5 * inter >= 4 * sa.n_sh AS BIGINT) AS a_in_b,
       CAST(5 * inter >= 4 * sb.n_sh AS BIGINT) AS b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE 5 * inter >= 4 * sa.n_sh OR 5 * inter >= 4 * sb.n_sh
""".replace("__DFCAP__", str(DF_CAP))


MERGE_SQL["tbl_time_travel"] = """
SELECT CAST(1 AS BIGINT) AS snap, doc_id, source FROM documents WHERE doc_id % 3 = 0
UNION ALL
SELECT CAST(2 AS BIGINT) AS snap, doc_id, source FROM documents
"""


TEXT_SQL["dedup_rate_by_source"] = _CLUSTERS_CTES + """
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT c.cluster_id) AS BIGINT) AS n_clusters,
       CAST((count(*) - count(DISTINCT c.cluster_id)) * 1000000 // count(*) AS BIGINT) AS dup_rate_ppm
FROM clusters c JOIN documents d USING (doc_id)
GROUP BY d.source
"""


TEXT_SQL["text_split_assign"] = """
WITH a AS (
  SELECT CASE
           WHEN (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 3
             THEN 'test'
           WHEN (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) < 6
             THEN 'val'
           ELSE 'train'
         END AS split,
         source,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tok
  FROM documents
)
SELECT split, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tok
FROM a GROUP BY split, source
"""

# Degenerate vectors (NaN/Inf/NULL component, NULL vector) → sentinel
# bucket -1, mirroring similarity.norm_stats. Structure matters for
# DuckDB's vectorized executor: the NULL→NaN scrub (_QVEC_SCRUB) keeps
# list_dot_product from hard-erroring on NULL elements (it is evaluated
# on every row regardless of CASE), and the BIGINT cast sits OUTSIDE the
# CASE so it only ever sees the CASE's finite-or-NULL output — a cast
# inside the THEN branch would be evaluated on NaN rows and raise.
SIMILARITY_SQL["sim_norm_stats"] = f"""
WITH d AS (SELECT {_QVEC_SCRUB} AS v FROM embeddings),
m AS (
  SELECT CAST(CASE WHEN v IS NOT NULL
                    AND len(list_filter(v, x -> NOT isfinite(x))) = 0
              THEN floor(sqrt(list_dot_product(v, v)) / 1000)
              END AS BIGINT) AS norm_mill
  FROM d
)
SELECT coalesce(norm_mill // 100, -1) AS norm_x10,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(norm_mill) AS BIGINT) AS min_norm_mill,
       CAST(max(norm_mill) AS BIGINT) AS max_norm_mill
FROM m GROUP BY 1
"""

# (dedup_cluster_sizes retired from the gate in round 4 — its histogram is
# one GROUP BY over the same clusters seam dedup_rate_by_source gates, and
# the 80-query registry slot went to mm_near_dup; the library function
# dedup.cluster_size_histogram remains, pytest-covered.)


MERGE_SQL["tbl_incremental"] = """
SELECT doc_id, source FROM documents WHERE doc_id % 3 != 0
"""

EVENTS_SQL["ev_transitions"] = """
WITH t AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS to_type
  FROM events
)
SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
FROM t WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""
