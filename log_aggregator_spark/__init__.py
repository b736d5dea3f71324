"""log_aggregator_spark — a from-scratch PySpark-native analytics engine with the
query/data-processing capabilities of the reference ``tjmike/log_aggregator``
(a Java distributed log shipping + reassembly system; see SURVEY.md).

The reference's dataflow (tail → chunk-encode → ship → order → gap-gate →
reassemble → count) is re-expressed as one declarative Spark batch DAG over a
table of pre-tokenized sequence chunks:

    chunks → parse(envelope, vectorized pandas UDF)
           → dropDuplicates(doc_id, session, seq)
           → checkpoint gate (join vs resume state, broadcast while small)
           → groupBy(doc_id, session) reassembly (monotone-seq gate, gap cut)
           → broadcast hash-join enrich (source → sink routes)
           → salted fan-out per-sink writes
           → per-sink aggregate counts + lineage metrics

plus the training-data-pipeline operators (dedup families, similarity search,
text analysis, multimodal plumbing) in ``log_aggregator_spark.functions``.
"""

__version__ = "0.1.0"
