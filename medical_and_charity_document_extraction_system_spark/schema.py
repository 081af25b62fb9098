"""Table and struct schemas.

Mirrors the reference's implicit record shapes (SURVEY.md section 1.1):

- document record: /root/reference/backend/app/services/ocr_service.py:215-227
- page record:     /root/reference/backend/app/core/ocr_engines/base_engine.py:53-69
- word/span:       /root/reference/backend/app/core/ocr_engines/easyocr_engine.py:79-91
  (our spans carry ``(field, value, start, end)`` char offsets in place
  of the pixel bbox — same structured-span primitive)

The input table is the Common-Crawl-style pages table from
BASELINE.json ``input_hint``.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input
# (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------- output
# word record (OCR pages only) — the reference's word primitive with
# `(start, end)` char offsets in place of the pixel bbox
# (easyocr_engine.py:79-91; block/line nums collapse to word_num in a
# text-payload engine)
WORD_STRUCT = T.StructType(
    [
        T.StructField("text", T.StringType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("word_num", T.IntegerType(), True),
    ]
)

PAGE_STRUCT = T.StructType(
    [
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("char_count", T.IntegerType(), True),
        T.StructField("word_count", T.IntegerType(), True),
        T.StructField("confidence", T.DoubleType(), True),
        # populated only on the OCR path (reference: words[] exists
        # only in engine page records, base_engine.py:53-69)
        T.StructField("words", T.ArrayType(WORD_STRUCT), True),
    ]
)

SPAN_STRUCT = T.StructType(
    [
        T.StructField("field", T.StringType(), False),
        T.StructField("value", T.StringType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)

# one row per url; the Spark analog of the reference document record
EXTRACTION_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("is_scanned", T.BooleanType(), True),
        T.StructField("processing_method", T.StringType(), True),
        T.StructField("page_count", T.IntegerType(), True),
        T.StructField("total_characters", T.LongType(), True),
        T.StructField("total_words", T.LongType(), True),
        T.StructField("average_confidence", T.DoubleType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("pages", T.ArrayType(PAGE_STRUCT), True),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
        T.StructField("engine", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("error", T.StringType(), True),
        T.StructField("steps_applied", T.ArrayType(T.StringType()), True),
    ]
)

# ------------------------------------------------------- auxiliary tables
# one row per completed checkpoint bucket (plans/checkpoint.py)
MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("part_id", T.IntegerType(), False),
        T.StructField("completed_ts", T.TimestampType(), True),
    ]
)

# processing_method values (reference: "direct_text_extraction" at
# ocr_service.py:64 area, "ocr_pipeline" at :221; html_extraction is
# our web-page analog; "error" is the degrade-don't-fail record,
# ocr_service.py:229-243)
METHOD_DIRECT = "direct_text_extraction"
METHOD_OCR = "ocr_pipeline"
METHOD_HTML = "html_extraction"
METHOD_ERROR = "error"
