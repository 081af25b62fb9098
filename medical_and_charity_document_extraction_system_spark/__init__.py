"""PySpark-native batch extraction engine.

A from-scratch re-expression of the capabilities of the reference
repo ``Rutuj912/medical-and-charity-document-extraction-system`` (a
FastAPI OCR/document-extraction service) as an idiomatic Spark
DataFrame pipeline over a Common-Crawl-style pages table
``(url STRING, warc_ts TIMESTAMP, html BINARY, text STRING,
lang STRING)``:

- HTML boilerplate stripping via text-density / link-density DOM
  heuristics (the web-scale analog of the reference's 4-stage image
  preprocessing + OCR, /root/reference/backend/app/services/
  preprocessing_service.py:82-133) — plus the ACTUAL image operator
  inventory (enhance/denoise/deskew/binarize, ~30 methods) in pure
  numpy as an Arrow row stage over binary image columns
  (functions/image_ops.py, operators/preprocess.py).
- PDF-style layout parse with a scanned-vs-text predicate and an
  OCR-engine registry with per-worker engine caching
  (ocr_service.py:170-186 pattern).
- Regex/rule field-span extraction (patient/donor names, amounts,
  dates, diagnosis codes, invoice numbers — the fields visible in
  the reference's golden fixture storage/json_tasks/task_5.json).
- Page -> document rollup byte-identical to the reference's
  ``_combine_page_results`` (ocr_service.py:188-227).
- Scale plumbing the reference lacks: url-hash partitioning with
  host salting, partition-granular checkpoint/resume, per-partition
  lineage + metrics, dedup (exact/MinHash-LSH/SimHash/Jaccard/
  embedding), similarity search, and text-quality analytics.

Design rules (see SURVEY.md section 7): DataFrame + vectorized
pandas/Arrow UDFs only — no per-row Python UDFs, no RDDs, no custom
Catalyst rules. Heavy per-row logic lives inside ``mapInArrow``
stages (stage.py: Python lists in, ``from_pylist`` out); everything column-shaped stays in ``pyspark.sql.functions``
so Catalyst/whole-stage-codegen keep it JVM-side.
"""

__version__ = "0.1.0"
