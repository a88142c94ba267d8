"""pdf_ocr_api_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the extraction capabilities of
devadambruno/pdf-ocr-api (reference at /root/reference, studied for
behavior only) as a batch DataFrame job over tables of multi-turn
transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.

Layout:
    functions/   scalar + vectorized normalization / pattern layer (SURVEY §2.7)
    extract/     per-payload extractors + parser cascade (SURVEY §2.8)
    sources/     Iceberg-first readers/writers with parquet fallback (SURVEY §2.1)
    ops/         corpus operators: quality gates, dedup, substring/repetition
                 removal, domains, LM/NB scoring, splits/packing, similarity
    operators/   turn-axis page operations (select/delete/insert/replace/split)
    pipeline.py  the mapInPandas extraction UDF (per-turn)
    conversation.py  conversation-level assembly (windows A1-A6, filters F2-F12)
    lineage.py   bucket-checkpointed runs: one commit table + idempotent resume
    runner.py    spark-submit entry point
"""

__version__ = "0.1.0"

# Py4j overhead: PySpark 4's per-call debug-origin capture costs ~4 py4j
# round trips per DataFrame API call and halves the driver-side build
# time of expression-heavy queries when disabled (see _pydriver module
# docstring; opt out with PDF_OCR_SPARK_DF_DEBUGGING=1).
from ._pydriver import disable_dataframe_debug_origin as _disable_df_debug_origin

_disable_df_debug_origin()
