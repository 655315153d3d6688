"""cadastral_map_ocr_system_spark — a from-scratch PySpark-native
main-content extraction engine.

Re-expresses the dataflow semantics of the reference repo
(Dhesuryakella/Cadastral-Map-OCR-System, a single-machine OpenCV+OCR
pipeline) as an idiomatic Spark DataFrame pipeline over tables of
interleaved text+media documents:

  docs(doc_id string,
       spans array<struct<kind,text,media_ref,offset>>)
    -> posexplode
    -> text path  : boilerplate strip via built-in column expressions
    -> media path : mapInArrow region-detect + tokenize + classify
                    + per-payload greedy dedup
    -> re-zip by (offset, region_idx, token_idx)
    -> extracted(doc_id, spans array<struct<kind,text,media_ref,order>>)

Modules:
  schema      — explicit StructTypes (no inference)
  session     — tuned SparkSession builder
  synth       — deterministic seeded corpus + media-payload generator
  oracle      — independent single-process pandas/python reference model
  functions/  — scalar rule layer (regex constants, geometry, similarity)
  operators/  — dataflow operators (textpath, mediapath, rezip, corpus
                dedup, ANN search, text analysis, multimodal)
  sources/    — table IO + resumable checkpoint
  plans/      — end-to-end pipeline assembly + spark-submit job
  streaming/  — foreachBatch wrapper around the batch pipeline
"""

__version__ = "0.1.0"
