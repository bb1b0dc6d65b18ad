"""angola_erp_ocr_spark — a PySpark-native document-text extraction engine.

A from-scratch rebuild of the *capabilities* of Helkyd/angola_erp_ocr
(reference at /root/reference, read-only) as a declarative Spark DataFrame
pipeline over an interleaved text+media `documents` table:

    documents(doc_id string,
              spans  array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

The reference is a single-node, per-file, imperative Frappe/ERPNext OCR app
(see SURVEY.md); this package re-expresses every operator it contains as
built-in pyspark.sql expressions, window functions, higher-order functions,
broadcast joins and — only where genuinely required (the simulated OCR
decode) — Arrow-vectorized ``mapInPandas`` stages. No per-row Python UDFs.

Modules
-------
session     tuned SparkSession builder (AQE, Arrow, shuffle partitions)
schema      span/word/page StructTypes + doc-class keyword routing
synth       deterministic seeded corpus generator (interleaved text+media)
functions.normalize   P1–P13 predicates & OCR-confusion normalizers
operators.layout      L1–L8 reading order / row–column detection / boilerplate
operators.fields      L9–L14 field extraction & doc classification
operators.ocr         mapInPandas glyph-grid OCR decode (I1–I10 stand-in)
operators.rules       §2.11 rule-table-driven extraction engine
operators.dedup       exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup
operators.similarity  embedding cosine top-k (brute force + LSH-bucketed ANN)
operators.textstats   language-ID, quality scoring, token counts, fingerprints
operators.multimodal  binary media columns: metadata, PNG/QR decode
plans.pipeline        end-to-end extract(): route → parse/OCR → order → emit
plans.cascade         R1/R2 cheap-path-first routing + committed retry ladder
plans.lineage         per-partition lineage rows (resume / skew audit)
sources.tables        S1 path resolution, lake sinks, CSV debug sink
streaming.incremental Structured Streaming foreachBatch wrapper
glyph                 columnar page codec (rendered-image stand-in)
"""

__version__ = "0.1.0"
